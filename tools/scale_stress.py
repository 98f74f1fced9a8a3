"""Scale-stress the pair-join family: sf0.1 -> sf1 (10x corpus).

The claims under test (docs/SCALE.md): the stop-shingle cap, the LSH
hot-band cap, and IVF partition pruning make candidate-pair growth
*linear* in corpus size — 10x docs => ~10x candidate pairs — where a
naive all-pairs join would grow 100x. This script measures it.

sf1 data is derived locally from the driver's read-only sf0.1 fixtures
(TESTDATA.md has no generator and /root/testdata is read-only): K=10
copies, each copy's text tokens carrying a deterministic per-copy letter
prefix so within-copy shingle/near-dup structure is preserved exactly
while cross-copy shingle overlap is zero (the honest 10x-corpus shape —
same dup-rate, bigger corpus). Embeddings get a per-copy seeded
dimension permutation: within-copy cosine geometry is exactly preserved,
cross-copy decorrelated. Copy 0 is byte-identical to sf0.1, so the
ann_ivf_kmeans query set (vec_id < N_QUERIES) is unchanged while the
corpus is 10x.

Usage:  python tools/scale_stress.py [--copies 10] [--out .scratch/sf1]
Prints a markdown table (for SCALE.md) + one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
DOC_OFF = 10_000_000
VEC_OFF = 10_000_000


def ensure_scaled(src: str, out: str, copies: int) -> None:
    # versioned marker: v2 added events.parquet — a scratch dir built by
    # an older script version must regenerate, not crash the event ops
    if os.path.exists(os.path.join(out, "_READY_v2")):
        return
    shutil.rmtree(out, ignore_errors=True)
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    docs = pq.read_table(os.path.join(src, "documents.parquet"))
    texts = docs.column("text").to_pylist()
    batches = []
    for k in range(copies):
        if k == 0:
            batches.append(docs)
            continue
        # letter-only prefix: the tokenizer splits on [^a-z]+, so a
        # digit-bearing prefix would fragment into a shared token
        pre = "zq" + chr(ord("a") + k)
        ptexts = [" ".join(pre + w for w in t.split()) for t in texts]
        batches.append(
            pa.table(
                {
                    "doc_id": pa.array(
                        [int(d) + k * DOC_OFF for d in docs.column("doc_id").to_pylist()],
                        type=pa.int64(),
                    ),
                    "text": pa.array(ptexts),
                    "lang": docs.column("lang"),
                    "source": docs.column("source"),
                    "n_chars": pa.array(
                        [len(t) for t in ptexts], type=pa.int64()
                    ),
                }
            )
        )
    pq.write_table(pa.concat_tables(batches), os.path.join(out, "documents.parquet"))

    embt = pq.read_table(os.path.join(src, "embeddings.parquet"))
    vecs = np.array(embt.column("embedding").to_pylist(), dtype=np.float32)
    vids = np.array(embt.column("vec_id").to_pylist(), dtype=np.int64)
    labels = embt.column("label")
    dim = vecs.shape[1]
    ebatches = []
    for k in range(copies):
        if k == 0:
            ebatches.append(embt)
            continue
        perm = np.random.RandomState(1000 + k).permutation(dim)
        ebatches.append(
            pa.table(
                {
                    "vec_id": pa.array(vids + k * VEC_OFF, type=pa.int64()),
                    "embedding": pa.array(
                        list(vecs[:, perm]), type=pa.list_(pa.float32())
                    ),
                    "label": labels,
                }
            )
        )
    pq.write_table(
        pa.concat_tables(ebatches), os.path.join(out, "embeddings.parquet")
    )

    ev = pq.read_table(os.path.join(src, "events.parquet"))
    vbatches = []
    for k in range(copies):
        if k == 0:
            vbatches.append(ev)
            continue
        # distinct user/event ids per copy; timestamps unchanged, so the
        # per-user behavioral structure is replicated exactly (10x users,
        # same activity shape — the honest scale-up for user-keyed ops)
        import pyarrow.compute as pc

        cols = {}
        for name in ev.column_names:
            col = ev.column(name)
            if name in ("user_id", "event_id"):
                cols[name] = pc.add(pc.cast(col, pa.int64()), k * DOC_OFF)
            else:
                cols[name] = col
        vbatches.append(pa.table(cols))
    pq.write_table(pa.concat_tables(vbatches), os.path.join(out, "events.parquet"))
    open(os.path.join(out, "_READY_v2"), "w").close()


def ensure_adversarial(src: str, out: str, n_docs: int = 1200,
                       boiler_tokens: int = 200) -> None:
    """Boilerplate-heavy corpus: the first n_docs sf0.1 documents, each
    with the SAME boiler_tokens-token header appended (n_docs above
    STOP_SHINGLE_DF so the df-cap is load-bearing). Every header
    3-shingle appears in every doc (one ultra-hot shingle family), and
    the header dominates most docs' minhash signatures (hot LSH bands) —
    the worst-case shape the df-cap / band-cap guards exist for."""
    if os.path.exists(os.path.join(out, "_READY_adv2")):
        return
    shutil.rmtree(out, ignore_errors=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    docs = pq.read_table(os.path.join(src, "documents.parquet")).slice(0, n_docs)
    boiler = " ".join(
        "boil" + chr(ord("a") + i % 26) + chr(ord("a") + (i // 26) % 26)
        for i in range(boiler_tokens)
    )
    texts = [t + " " + boiler for t in docs.column("text").to_pylist()]
    pq.write_table(
        pa.table({
            "doc_id": docs.column("doc_id"),
            "text": pa.array(texts),
            "lang": docs.column("lang"),
            "source": docs.column("source"),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }),
        os.path.join(out, "documents.parquet"),
    )
    for aux in ("embeddings.parquet", "events.parquet"):
        shutil.copy(os.path.join(src, aux), os.path.join(out, aux))
    open(os.path.join(out, "_READY_adv2"), "w").close()


def ensure_adversarial_emb(src: str, out: str, n_collapsed: int = 1200,
                           n_normal: int = 800) -> None:
    """Degenerate-embedding corpus: n_normal real sf0.1 vectors (incl.
    vec_id 0..K_LISTS-1, the k-means seeds) plus n_collapsed copies of ONE
    vector — the all-embeddings-in-one-centroid shape that turns the
    kmeans-blocked dedup equi-join quadratic. The collapsed cell ends up
    over CELL_SKEW_MULT x the balanced share, so the guard must drop it
    while the normal cells keep producing pairs."""
    if os.path.exists(os.path.join(out, "_READY_advemb1")):
        return
    shutil.rmtree(out, ignore_errors=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    embt = pq.read_table(os.path.join(src, "embeddings.parquet"))
    base = embt.column("embedding").to_pylist()
    labels = embt.column("label").to_pylist()
    vecs = base[:n_normal] + [base[0]] * n_collapsed
    ids = list(range(n_normal)) + [VEC_OFF + i for i in range(n_collapsed)]
    labs = labels[:n_normal] + [labels[0]] * n_collapsed
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.array(vecs),
            "label": pa.array(labs),
        }),
        os.path.join(out, "embeddings.parquet"),
    )
    for aux in ("documents.parquet", "events.parquet"):
        shutil.copy(os.path.join(src, aux), os.path.join(out, aux))
    open(os.path.join(out, "_READY_advemb1"), "w").close()


def run_adversarial(out_dir: str) -> None:
    """Measure the df-cap / band-cap value on the skew corpus: candidate
    pair counts and wall time with the guards ON vs OFF (the OFF run is
    the quadratic blowup the caps bound)."""
    from roapi_spark.functions import dedup
    from roapi_spark.functions.snapshot import cache_root
    from roapi_spark.session import get_spark

    adv = os.path.join(out_dir, "sf_adv")
    ensure_adversarial(SRC, adv)
    spark = get_spark("scale-stress-adv")
    spark.range(1000).count()

    results = {}
    saved = (dedup.STOP_SHINGLE_DF, dedup.BAND_CAP)
    try:
        for mode in ("capped", "uncapped"):
            shutil.rmtree(cache_root(), ignore_errors=True)
            if mode == "uncapped":
                dedup.STOP_SHINGLE_DF = 10**9
                dedup.BAND_CAP = 10**9
            else:
                dedup.STOP_SHINGLE_DF, dedup.BAND_CAP = saved
            t0 = time.time()
            shingle_pairs = dedup.shingle_pair_graph_cached(spark, adv)[0].count()
            t_sh = round(time.time() - t0, 2)
            t0 = time.time()
            lsh_pairs = dedup.lsh_pairs_cached(spark, adv).count()
            t_lsh = round(time.time() - t0, 2)
            results[mode] = {
                "shingle_pairs": shingle_pairs, "shingle_build_s": t_sh,
                "lsh_pairs": lsh_pairs, "lsh_build_s": t_lsh,
            }
    finally:
        dedup.STOP_SHINGLE_DF, dedup.BAND_CAP = saved
        shutil.rmtree(cache_root(), ignore_errors=True)  # poisoned caches

    c, u = results["capped"], results["uncapped"]
    print("| adversarial metric (1200 docs + 200-token shared boilerplate) "
          "| caps on | caps off | blowup |")
    print("|---|---|---|---|")
    for k in ("shingle_pairs", "shingle_build_s", "lsh_pairs", "lsh_build_s"):
        r = round(u[k] / c[k], 1) if c[k] else float("inf")
        print(f"| {k} | {c[k]} | {u[k]} | {r}x |")
    print(json.dumps({"adversarial": results}))

    # embedding-blocked dedup: the analogous skew is every vector
    # collapsing onto one centroid — CELL_SKEW_MULT must bound the pair
    # join while normal cells keep producing pairs
    advemb = os.path.join(out_dir, "sf_adv_emb")
    ensure_adversarial_emb(SRC, advemb)
    eres = {}
    saved_mult = dedup.CELL_SKEW_MULT
    try:
        for mode in ("capped", "uncapped"):
            dedup.CELL_SKEW_MULT = saved_mult if mode == "capped" else 10**9
            t0 = time.time()
            pairs = dedup.dedup_embedding_kmeans(spark, advemb).count()
            eres[mode] = {"kmeans_pairs": pairs,
                          "kmeans_pairs_s": round(time.time() - t0, 2)}
    finally:
        dedup.CELL_SKEW_MULT = saved_mult
        shutil.rmtree(cache_root(), ignore_errors=True)
    ce, ue = eres["capped"], eres["uncapped"]
    print("| adversarial metric (800 real + 1200 collapsed embeddings) "
          "| cap on | cap off | blowup |")
    print("|---|---|---|---|")
    for k in ("kmeans_pairs", "kmeans_pairs_s"):
        r = round(ue[k] / ce[k], 1) if ce[k] else float("inf")
        print(f"| {k} | {ce[k]} | {ue[k]} | {r}x |")
    print(json.dumps({"adversarial_emb": eres}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf1"))
    ap.add_argument("--fresh-cache", action="store_true",
                    help="wipe snapshot caches first so build times are cold")
    ap.add_argument("--adversarial", action="store_true",
                    help="run only the boilerplate-skew cap-on/cap-off probe")
    ap.add_argument("--only", nargs="*", default=None, metavar="QUERY",
                    help="re-measure only these registry queries' serve "
                    "rows at both SFs (skips builds/pair counts/delta; "
                    "reuses the scaled corpus + warm artifacts)")
    args = ap.parse_args()

    if args.adversarial:
        run_adversarial(os.path.dirname(args.out))
        return

    if args.only is not None:
        from roapi_spark.plans.registry import load_all
        from roapi_spark.session import get_spark

        specs = load_all()
        unknown = [q for q in args.only if q not in specs]
        if not args.only or unknown:
            ap.error(
                f"--only needs registry query names; unknown: {unknown or '(none given)'}"
            )
        ensure_scaled(SRC, args.out, args.copies)
        spark = get_spark("scale-stress-only")
        spark.range(1000).count()
        rep: dict[str, dict[str, float]] = {}
        for label, sf_dir in (("sf0.1", SRC), ("sf1", args.out)):
            row = {}
            for q in args.only:
                best = None
                for _ in range(2):
                    t0 = time.time()
                    # noop sink, not count(): count lets Catalyst prune
                    # every output column and even eliminate a left join
                    # of a unique-keyed aggregate (dedup_span_rewrite's
                    # shape), timing a row count instead of the operator
                    specs[q].builder(spark, sf_dir).write.mode(
                        "overwrite"
                    ).format("noop").save()
                    t = round(time.time() - t0, 2)
                    best = t if best is None or t < best else best
                row[q + "_s"] = best
            rep[label] = row
        print("| metric | sf0.1 | sf1 (10x) | ratio |")
        print("|---|---|---|---|")
        for q in args.only:
            a, b = rep["sf0.1"][q + "_s"], rep["sf1"][q + "_s"]
            r = round(b / a, 2) if a else float("inf")
            print(f"| {q}_s | {a} | {b} | {r}x |")
        print(json.dumps(rep))
        return

    from roapi_spark.functions import dedup, similarity
    from roapi_spark.functions.snapshot import cache_root
    from roapi_spark.plans.registry import load_all
    from roapi_spark.session import get_spark

    ensure_scaled(SRC, args.out, args.copies)
    if args.fresh_cache:
        shutil.rmtree(cache_root(), ignore_errors=True)

    specs = load_all()
    spark = get_spark("scale-stress")
    spark.range(1000).count()

    def timed(fn):
        t0 = time.time()
        n = fn()
        return round(time.time() - t0, 2), n

    report: dict[str, dict] = {}
    for label, sf_dir in (("sf0.1", SRC), ("sf1", args.out)):
        row: dict[str, object] = {"docs": 0, "vecs": 0}
        row["docs"] = dedup.docs(spark, sf_dir).count()
        row["vecs"] = similarity.emb(spark, sf_dir).count()

        # candidate generation (cold build = the once-per-snapshot cost)
        t, n = timed(lambda: dedup.shingle_pair_graph_cached(spark, sf_dir)[0].count())
        row["shingle_pairs"] = n
        row["shingle_build_s"] = t
        t, n = timed(lambda: dedup.lsh_pairs_cached(spark, sf_dir).count())
        row["lsh_pairs"] = n
        row["lsh_build_s"] = t
        layout_dir, cents = similarity.ivf_layout(spark, sf_dir)
        from pyspark.sql import functions as F

        qcids = sorted(
            {similarity.assign_client([int(x) for x in r.vq], cents)
             for r in similarity.emb(spark, sf_dir)
             .filter(F.col("vec_id") < similarity.N_QUERIES)
             .withColumn("vq", similarity.vq_col())
             .select("vq").collect()}
        )
        row["ivf_probed_rows"] = (
            spark.read.parquet(layout_dir).filter(F.col("cid").isin(qcids)).count()
        )

        # serve-path wall time (the steady-state figure, min of 2)
        for q in ("dedup_ngram_jaccard", "dedup_containment",
                  "dedup_minhash_lsh", "ann_ivf_kmeans",
                  "q_event_funnel", "q_retention_cohort", "q_sessionize_batch",
                  "dedup_components", "q_ngram_novelty",
                  "dedup_substring_spans", "dedup_incremental", "ann_sq8",
                  "q_asof_join", "q_range_join", "text_tfidf_topk",
                  "q_dedup_method_agreement", "q_heaps_law",
                  "q_packing_efficiency", "q_ann_recall",
                  # round-5 additions: the rest of the PQ/SQ8 quartet,
                  # the incremental refresh, and the JPEG/MJPEG kernels
                  "ann_pq_adc", "ann_ivfpq", "ann_ivfsq8",
                  "dedup_incremental_refresh",
                  "multimodal_image_jpeg", "multimodal_video_mjpeg",
                  "multimodal_image_jpeg_progressive",
                  "multimodal_image_webp", "multimodal_audio_flac",
                  "multimodal_image_phash",
                  # round-7 addition: BM25 (tf shuffle should be ~linear)
                  "q_bm25_topk"):
            best = None
            for _ in range(2):
                # noop sink (not count): see the --only path — count()
                # lets Catalyst prune per-doc outputs' compute
                t, _n = timed(
                    lambda: specs[q]
                    .builder(spark, sf_dir)
                    .write.mode("overwrite")
                    .format("noop")
                    .save()
                )
                best = t if best is None or t < best else best
            row[q + "_s"] = best

        # recall VALUES, not just wall time: the nprobe/K_LISTS dials need
        # a quality curve at scale (r5 verdict item)
        for q, key in (("q_ann_recall", "recall_at_5"),
                       ("q_ann_recall_nprobe", "recall_at_5_nprobe")):
            r = specs[q].builder(spark, sf_dir).collect()[0]
            row[key] = float(r["recall_at_5"])

        # Delta write lifecycle at this scale: publish the documents
        # table as 4 appends (micro-batch shape), then compact + vacuum
        import tempfile

        from roapi_spark.sinks.delta import compact, vacuum, write_delta

        ddir = tempfile.mkdtemp(prefix=f"delta-stress-{label.replace('.', '_')}-")
        try:
            dtbl = os.path.join(ddir, "docs")
            d = dedup.docs(spark, sf_dir)
            t0 = time.time()
            for part in range(4):
                write_delta(
                    d.filter(F.col("doc_id") % 4 == part), dtbl, mode="append"
                )
            row["delta_4appends_s"] = round(time.time() - t0, 2)
            t, _ = timed(lambda: compact(spark, dtbl, target_partitions=8))
            row["delta_compact_s"] = t
            t, n = timed(lambda: len(vacuum(dtbl, keep_versions=1)))
            row["delta_vacuum_s"], row["delta_vacuumed_files"] = t, n
            from roapi_spark.config import TableSource
            from roapi_spark.sources.delta import to_dataframe

            ts = TableSource(name="_s", uri=dtbl, format="delta", option={})
            got = to_dataframe(spark, ts).count()
            if got != row["docs"]:  # not assert: must survive python -O
                raise RuntimeError(
                    f"delta lifecycle corrupted rows: {got} != {row['docs']}"
                )
        finally:
            shutil.rmtree(ddir, ignore_errors=True)
        report[label] = row

    a, b = report["sf0.1"], report["sf1"]

    def ratio(k):
        return round(b[k] / a[k], 2) if a[k] else float("inf")

    print("| metric | sf0.1 | sf1 (10x) | ratio |")
    print("|---|---|---|---|")
    for k in ("docs", "vecs", "shingle_pairs", "lsh_pairs", "ivf_probed_rows",
              "shingle_build_s", "lsh_build_s", "dedup_ngram_jaccard_s",
              "dedup_containment_s", "dedup_minhash_lsh_s", "ann_ivf_kmeans_s",
              "q_event_funnel_s", "q_retention_cohort_s", "q_sessionize_batch_s",
              "dedup_components_s", "q_ngram_novelty_s",
              "dedup_substring_spans_s", "dedup_incremental_s", "ann_sq8_s",
              "q_asof_join_s", "q_range_join_s", "text_tfidf_topk_s",
              "q_dedup_method_agreement_s", "q_heaps_law_s",
              "q_packing_efficiency_s", "q_ann_recall_s",
              "ann_pq_adc_s", "ann_ivfpq_s", "ann_ivfsq8_s",
              "dedup_incremental_refresh_s",
              "multimodal_image_jpeg_s", "multimodal_video_mjpeg_s",
              "multimodal_image_jpeg_progressive_s",
              "multimodal_image_webp_s", "multimodal_audio_flac_s",
              "multimodal_image_phash_s", "q_bm25_topk_s",
              "delta_4appends_s", "delta_compact_s", "delta_vacuum_s",
              "delta_vacuumed_files", "recall_at_5", "recall_at_5_nprobe"):
        print(f"| {k} | {a[k]} | {b[k]} | {ratio(k)}x |")
    print(json.dumps({"sf0.1": a, "sf1": b}))


if __name__ == "__main__":
    main()
