"""Deterministic crawl fixtures built from the ``documents`` table.

The crawl and format gates need web-shaped inputs that the DuckDB oracle
can recompute from the raw parquet. Every builder here derives its
records from fixed ``doc_id`` residues, writes once per corpus snapshot
through ``snapshot.build_once`` and returns the directory:

* WARC archives: HTML response pages wrapping each document in chrome,
  plus warcinfo, request, 404, text/plain, duplicate-URL and image
  records (``warc_fixture_dir``, ``warc_images_dir``, ``read_warc``);
* CDXJ indexes over those archives (``cdx_fixture_dir``) and the
  two-round crawl with its merged, range-sharded and ZipNum master
  indexes (``two_round_crawl_dir`` and friends);
* sitemaps.org urlsets and index (``sitemap_fixture_dir``);
* the parsed anchor graph of the fixture pages (``links_snapshot``,
  ``links_text_snapshot``) and the host tables the link and
  public-suffix gates share (``EXT_HOSTS``, ``PSL_HOSTS``).

Fixture builds collect a bounded slice of ``documents`` to the driver
(500 rows at sf0.01): a fixture write, not a data-path pattern.
"""

from __future__ import annotations

import gzip
import html as html_mod
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roapi_spark.functions.web import canonical_url


def _raw_url(doc_id: int, source: str) -> str:
    host = "CRAWL.Example.com" if doc_id % 5 == 0 else "crawl.example.com"
    port = ":443" if doc_id % 9 == 4 else ""
    trail = "/" if doc_id % 4 == 1 else ""
    q = "?utm_source=feed&b=2&a=1" if doc_id % 2 == 0 else "?a=1&b=2"
    frag = "#frag" if doc_id % 6 == 3 else ""
    return f"https://{host}{port}/{source}/{doc_id}{trail}{q}{frag}"


def _dup_url(doc_id: int, source: str) -> str:
    return (
        f"https://crawl.example.com:443/{source}/{doc_id}/"
        "?b=2&a=1&utm_medium=x#x2"
    )


# external hosts the cross-host footer link cycles through (by
# doc_id % 6) — chosen to span PSL snapshot families so the host-graph
# gate exercises registrable-domain keying, not just string equality
EXT_HOSTS = (
    "news.example.co.uk",
    "mirror.loja.com.br",
    "docs.user1.github.io",
    "archive.example.ac.in",
    "static.demo.blogspot.com",
    "data.example.gob.mx",
)


def _doc_link_href(doc_id: int, source: str, dst: int, dst_source: str) -> str:
    """The cross-document footer href, in a doc_id-residue-chosen RFC
    3986 reference form (absolute, protocol-relative, path-absolute
    with tracking noise, dot-segmented relative, dot-segmented
    absolute) — all resolving against the page's target URI to the same
    canonical target, so the link-graph pass must do real reference
    resolution, not href-shape matching."""
    tail = f"{dst_source}/{dst}?b=2&a=1"
    form = doc_id % 5
    if form == 3 and doc_id % 13 == 5:
        # %13 docs exist under TWO base URIs (primary + messy dup) with
        # different base paths; a path-RELATIVE href would resolve
        # differently per record — keep their href base-independent
        form = 2
    if form == 0:
        href = f"https://crawl.example.com/{tail}"
    elif form == 1:
        href = f"//CRAWL.example.com/{tail}"  # protocol-relative + case
    elif form == 2:
        href = f"/{tail}&utm_campaign=footer"  # tracking noise
    elif form == 3:
        # path-relative with ../ — depth depends on the base path's
        # trailing slash (%4 residue): /s/21 dir=/s/, /s/21/ dir=/s/21/
        ups = "../" * (2 if doc_id % 4 == 1 else 1)
        href = f"{ups}{tail}"
    else:
        href = f"/./{dst_source}/../{tail}"  # dot segments, absolute
    if doc_id % 3 == 0:
        href += "#sec"  # fragments drop during canonicalization
    return href


def _html_page(doc_id: int, text: str, link_to: int | None = None,
               link_href: str | None = None) -> str:
    # the cross-doc + cross-host links live in the FOOTER: chrome to
    # the extractor (dropped by tag), signal to the link-graph pass
    next_link = ""
    if link_href is not None:
        ext = EXT_HOSTS[doc_id % len(EXT_HOSTS)]
        next_link = (
            f'<a href="{link_href}">next</a> '
            f'<a href="https://{ext}/partner/{doc_id}">partner</a> '
        )
    elif link_to is not None:
        next_link = f'<a href="/link/{link_to}">next</a> '
    return (
        "<!DOCTYPE html>\n"
        f"<html><head><title>doc {doc_id}</title>\n"
        "<style>body { margin: 0; }</style>\n"
        f'<script>var tracker = "{doc_id}";</script>\n'
        "</head><body>\n"
        '<nav><a href="/">Home</a> <a href="/about">About</a></nav>\n'
        f"<header><h1>Document {doc_id}</h1></header>\n"
        '<div class="sidebar"><a href="/t/1">One</a> <a href="/t/2">Two</a>'
        ' <a href="/t/3">Three</a></div>\n'
        f"<main><p>{html_mod.escape(text)}</p></main>\n"
        f'<footer>{next_link}<a href="/privacy">Privacy</a>'
        " (c) Example Corp</footer>\n"
        "</body></html>"
    )


def _warc_record(
    wtype: str,
    uri: str | None,
    block: bytes,
    ctype: str,
    extra: dict[str, str] | None = None,
) -> bytes:
    head = (
        "WARC/1.0\r\n"
        f"WARC-Type: {wtype}\r\n"
        f"WARC-Record-ID: <urn:uuid:{wtype}-{uri or 'file'}>\r\n"
        "WARC-Date: 2026-01-01T00:00:00Z\r\n"
        + (f"WARC-Target-URI: {uri}\r\n" if uri else "")
        + "".join(f"{k}: {v}\r\n" for k, v in (extra or {}).items())
        + f"Content-Type: {ctype}\r\n"
        f"Content-Length: {len(block)}\r\n\r\n"
    )
    return head.encode() + block + b"\r\n\r\n"


def _http_response(status: int, ctype: str, body: bytes) -> bytes:
    reason = {200: "OK", 404: "Not Found"}[status]
    return (
        f"HTTP/1.1 {status} {reason}\r\n"
        f"Content-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def _response_record(
    doc_id: int, source: str, text: str, uri: str,
    link_href: str | None = None,
) -> bytes:
    if doc_id % 11 == 3:
        status, ctype = 404, "text/html; charset=utf-8"
        body = b"<html><body><p>gone</p></body></html>"
    elif doc_id % 7 == 2:
        status, ctype = 200, "text/plain; charset=utf-8"
        body = text.encode()
    else:
        status, ctype = 200, "text/html; charset=utf-8"
        body = _html_page(doc_id, text, link_href=link_href).encode()
    return _warc_record(
        "response",
        uri,
        _http_response(status, ctype, body),
        "application/http; msgtype=response",
    )


N_SHARDS = 8  # crawl-file parallelism unit: the scan's task count


def _capture_meta(
    doc_id: int, source: str, url: str, dup: bool = False
) -> dict:
    """Per-capture pointer metadata (mirrors the record the builder is
    about to write; residues match _response_record)."""
    is404 = doc_id % 11 == 3
    return {
        "doc_id": doc_id,
        "source": source,
        "url": url,
        "status": "404" if is404 else "200",
        "mime": (
            "text/plain" if (not is404 and doc_id % 7 == 2) else "text/html"
        ),
        "ts": "20260102000000" if dup else "20260101000000",
    }


def _pointer_line(meta: dict, offset: int, length: int, fname: str) -> str:
    """One CDXJ pointer line with the capture's TRUE archive
    coordinates (compressed-member offset/length in .gz shards, raw
    record slice in plain shards)."""
    import json as _json

    canon = (
        f"https://crawl.example.com/{meta['source']}/{meta['doc_id']}"
        "?a=1&b=2"
    )
    blob = {
        "url": meta["url"],
        "mime": meta["mime"],
        "status": meta["status"],
        "digest": f"sha1:{meta['doc_id']}",
        "length": str(length),
        "offset": str(offset),
        "filename": fname,
    }
    return f"{_surt(canon)} {meta['ts']} {_json.dumps(blob)}"


def warc_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once WARC fixture, sharded into 8 files by doc_id (even
    shards one-gzip-member-per-record — the Common Crawl layout — odd
    shards uncompressed), each opening with a warcinfo record. Sharding
    matters: the WARC scan parallelizes per FILE, so the fixture must
    present the multi-file shape real crawls have."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "warc-v6")
    names = tuple(
        f"docs-{s:02d}.warc" + (".gz" if s % 2 == 0 else "")
        for s in range(N_SHARDS)
    )
    ptr_names = tuple(f"pointers-{s:02d}.cdxj" for s in range(N_SHARDS))

    def ready(d: str) -> bool:
        return all(
            os.path.exists(os.path.join(d, n)) for n in names + ptr_names
        )

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        rows = (
            spark.read.parquet(src)
            .select("doc_id", "source", "text")
            .orderBy("doc_id")
            .collect()
        )
        info = _warc_record(
            "warcinfo",
            None,
            b"software: roapi_spark fixture\r\n",
            "application/warc-fields",
        )
        # each shard holds (record bytes, capture-pointer meta | None):
        # response records get a CDXJ pointer with their TRUE (offset,
        # length) recorded at write time, so the random-access fetch
        # path has real coordinates to seek to
        shards: list[list[tuple[bytes, dict | None]]] = [
            [(info, None)] for _ in range(N_SHARDS)
        ]
        n_docs = len(rows)
        for i, r in enumerate(rows):
            doc_id, source, text = r[0], r[1], r[2]
            uri = _raw_url(doc_id, source)
            # functional link graph by POSITION in the doc_id-sorted
            # order: for the driver corpora (contiguous 0..n-1 ids)
            # this is byte-identical to (doc_id*7) % n_docs — the form
            # the oracles replay — while staying total for corpora
            # with offset id spaces (the sf1 scale-stress clones)
            link_row = rows[(i * 7) % n_docs]
            href = _doc_link_href(doc_id, source, link_row[0], link_row[1])
            recs: list[tuple[bytes, dict | None]] = []
            if doc_id % 10 == 0:
                recs.append(
                    (
                        _warc_record(
                            "request",
                            uri,
                            f"GET /{source}/{doc_id} HTTP/1.1\r\n"
                            "Host: crawl.example.com\r\n\r\n".encode(),
                            "application/http; msgtype=request",
                        ),
                        None,
                    )
                )
            recs.append(
                (
                    _response_record(doc_id, source, text, uri, href),
                    _capture_meta(doc_id, source, uri),
                )
            )
            if doc_id % 13 == 5:
                recs.append(
                    (
                        _response_record(
                            doc_id, source, text,
                            _dup_url(doc_id, source), href,
                        ),
                        _capture_meta(
                            doc_id, source, _dup_url(doc_id, source),
                            dup=True,
                        ),
                    )
                )
            if doc_id % 17 == 1:
                # a later re-fetch found the payload unchanged: the
                # crawler wrote a REVISIT record (ISO 28500 §6.7,
                # identical-payload-digest profile) — headers only, no
                # body, pointing at the record it matched. The %3
                # residue DANGLES the reference (the original landed in
                # a crawl file that was lost) so resolution joins have
                # a real miss path.
                ref = (
                    f"<urn:uuid:response-missing-{doc_id}>"
                    if doc_id % 3 == 0
                    else f"<urn:uuid:response-{uri}>"
                )
                recs.append(
                    (
                        _warc_record(
                            "revisit",
                            uri,
                            b"HTTP/1.1 200 OK\r\n"
                            b"Content-Type: text/html; charset=utf-8\r\n\r\n",
                            "application/http; msgtype=response",
                            extra={
                                "WARC-Refers-To": ref,
                                "WARC-Profile": "http://netpreservation"
                                ".org/warc/1.0/revisit/"
                                "identical-payload-digest",
                            },
                        ),
                        None,
                    )
                )
            shards[doc_id % N_SHARDS].extend(recs)
        for s, recs in enumerate(shards):
            pos = 0
            pointers: list[str] = []
            with open(os.path.join(tmp, names[s]), "wb") as f:
                for rec, meta in recs:
                    out_b = (
                        gzip.compress(rec, mtime=0) if s % 2 == 0 else rec
                    )
                    if meta is not None:
                        pointers.append(
                            _pointer_line(meta, pos, len(out_b), names[s])
                        )
                    f.write(out_b)
                    pos += len(out_b)
            with open(os.path.join(tmp, ptr_names[s]), "w") as pf:
                pf.write("\n".join(sorted(pointers)) + "\n")

    return build_once(out, ready, build)


def warc_shards(src: str) -> list[str]:
    """Archive shard names in the fixture dir — pointer index files
    (and anything else non-WARC) excluded; the unit the streaming
    gates land wave by wave."""
    return sorted(n for n in os.listdir(src) if ".warc" in n)


def read_warc(spark: SparkSession, sf_dir: str, **option) -> DataFrame:
    from roapi_spark.config import TableSource
    from roapi_spark.sources import load_table

    return load_table(
        spark,
        TableSource(
            name="_warc",
            uri=warc_fixture_dir(spark, sf_dir),
            format="warc",
            option=option,
        ),
    )


# ---- q_src_cdx -------------------------------------------------------------


def _surt(canon: str) -> str:
    """SURT key of a canonical URL: host labels reversed and
    comma-joined, ')/' separator, then path+query — the sort key CDX
    files are ordered by."""
    rest = canon.split("://", 1)[1]
    host, _, pathq = rest.partition("/")
    return ",".join(reversed(host.split("."))) + ")/" + pathq


def _cdx_line(doc_id: int, source: str, url: str, fetch_ts: str) -> str:
    import json as _json

    is404 = doc_id % 11 == 3
    isplain = (not is404) and doc_id % 7 == 2
    shard = doc_id % N_SHARDS
    fname = f"docs-{shard:02d}.warc" + (".gz" if shard % 2 == 0 else "")
    # canonical form for the SURT key (what a CDX writer canonicalizes)
    canon = (
        f"https://crawl.example.com/{source}/{doc_id}?a=1&b=2"
    )
    blob = {
        "url": url,
        "mime": "text/plain" if isplain else "text/html",
        "status": "404" if is404 else "200",
        "digest": f"sha1:{doc_id}",
        "length": str(100 + doc_id % 251),
        "offset": str((doc_id * 7919) % 1000003),
        "filename": fname,
    }
    return f"{_surt(canon)} {fetch_ts} {_json.dumps(blob)}"


def cdx_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once CDXJ index fixture mirroring the WARC fixture's URL
    set: one line per capture (primary + the %13 later re-capture),
    SURT-sorted within each of 4 shard files, half gzipped (the
    text reader must decompress transparently)."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "cdx-v1")
    names = tuple(
        f"index-{s:02d}.cdx" + (".gz" if s % 2 == 0 else "j")
        for s in range(4)
    )

    def ready(d: str) -> bool:
        return all(os.path.exists(os.path.join(d, n)) for n in names)

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        rows = (
            spark.read.parquet(src)
            .select("doc_id", "source")
            .orderBy("doc_id")
            .collect()
        )
        shards: list[list[str]] = [[] for _ in names]
        for r in rows:
            doc_id, source = r[0], r[1]
            uri = _raw_url(doc_id, source)
            shards[doc_id % len(names)].append(
                _cdx_line(doc_id, source, uri, "20260101000000")
            )
            if doc_id % 13 == 5:
                shards[doc_id % len(names)].append(
                    _cdx_line(
                        doc_id, source, _dup_url(doc_id, source),
                        "20260102000000",
                    )
                )
        for s, lines in enumerate(shards):
            data = "\n".join(sorted(lines)) + "\n"
            path = os.path.join(tmp, names[s])
            if names[s].endswith(".gz"):
                with open(path, "wb") as f:
                    f.write(gzip.compress(data.encode(), mtime=0))
            else:
                with open(path, "w") as f:
                    f.write(data)

    return build_once(out, ready, build)


# ---- multimodal_crawl_images -----------------------------------------------

# every doc_id % 5 == 0 page also serves a grayscale PNG whose pixels
# follow the closed form pixel(y, x) = base + x + 2y with
# base = doc_id % 200 (max value 199 + 11 + 14 < 256: no uint8 wrap, so
# the oracle can integrate the plane analytically)
IMG_RESIDUE = 5


def _img_dims(doc_id: int) -> tuple[int, int, int]:
    return 8 + doc_id % 5, 6 + doc_id % 3, doc_id % 200  # w, h, base


def warc_images_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once crawl-image fixture: 2 gzip WARC shards of image/png
    responses, payloads produced by the repo's own from-spec PNG encoder
    (scanline filters cycling, so the decoder's unfilter paths are
    load-bearing)."""
    import numpy as np

    from roapi_spark.functions.multimodal import encode_png
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "warcimg-v1")
    names = ("img-00.warc.gz", "img-01.warc.gz")

    def ready(d: str) -> bool:
        return all(os.path.exists(os.path.join(d, n)) for n in names)

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        rows = (
            spark.read.parquet(src)
            .filter(F.col("doc_id") % IMG_RESIDUE == 0)
            .select("doc_id", "source")
            .orderBy("doc_id")
            .collect()
        )
        shards: list[list[bytes]] = [[], []]
        for r in rows:
            doc_id, source = r[0], r[1]
            w, h, base = _img_dims(doc_id)
            gray = np.fromfunction(
                lambda y, x: base + x + 2 * y, (h, w), dtype=np.int64
            ).astype(np.uint8)
            png = encode_png(gray)
            block = (
                f"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n"
                f"Content-Length: {len(png)}\r\n\r\n"
            ).encode() + png
            rec = _warc_record(
                "response",
                f"https://img.example.com/{source}/{doc_id}.png",
                block,
                "application/http; msgtype=response",
            )
            shards[(doc_id // IMG_RESIDUE) % 2].append(rec)
        for i, name in enumerate(names):
            with open(os.path.join(tmp, name), "wb") as f:
                for rec in shards[i]:
                    f.write(gzip.compress(rec, mtime=0))

    return build_once(out, ready, build)


# ---- q_crawl_link_graph ----------------------------------------------------


def _anchor_rows(spark: SparkSession, sf_dir: str, with_text: bool) -> DataFrame:
    """One-Python-stage WAT pass: WARC read + response/HTML filter +
    payload decode + link extraction fused into a single kernel over
    the shard paths (guide §8 / §4.2): the old shape ran the warc
    loader as one Python stage and the anchor kernel as a second, which
    round-tripped every HTML payload Python -> JVM -> Python just to
    apply JVM-side status/content-type filters in between. The filters
    and decode now run where the payload already is; only the SMALL
    anchor rows (uri, winner key, resolved href [, text]) ever reach
    the JVM — the payload is decoded in exactly one place."""
    import os as _os

    from roapi_spark.sources.warc import _list_files

    uri = warc_fixture_dir(spark, sf_dir)
    files = _list_files(uri, "*.warc*", recursive=False)
    paths = spark.createDataFrame(
        [(p,) for p in files], "path string"
    ).repartition(len(files), "path")

    def kernel(batches):
        import pandas as pd

        from roapi_spark.functions.web import (
            decode_http_text,
            extract_links,
            extract_links_with_text,
            resolve_url,
        )
        from roapi_spark.sources.warc import read_warc_file

        cols = ["target_uri", "record_id", "warc_file", "record_offset"] + (
            ["anchor_text", "resolved"] if with_text else ["resolved"]
        )
        for pdf in batches:
            for p in pdf["path"]:
                label = _os.path.relpath(p, uri)
                out = []
                for rec in read_warc_file(p, label):
                    # same predicate the JVM filter applied: response,
                    # status 200, text/html (NULL content type drops)
                    if rec["warc_type"] != "response":
                        continue
                    if rec["http_status"] != 200:
                        continue
                    ctype = rec["http_content_type"]
                    if not (ctype or "").startswith("text/html"):
                        continue
                    raw = decode_http_text(rec["payload"], ctype)
                    if raw is None:
                        continue
                    turi = rec["target_uri"]
                    base = (turi, rec["record_id"], label,
                            rec["record_offset"])
                    if with_text:
                        for href, text in extract_links_with_text(raw):
                            out.append(
                                base + (text, resolve_url(turi, href))
                            )
                    else:
                        for href in extract_links(raw):
                            out.append(base + (resolve_url(turi, href),))
                yield pd.DataFrame(out, columns=cols)

    schema = (
        "target_uri string, record_id string, warc_file string, "
        "record_offset bigint, "
        + ("anchor_text string, " if with_text else "")
        + "resolved string"
    )
    return paths.mapInPandas(kernel, schema).withColumn(
        "canon", canonical_url(F.col("target_uri"))
    )


def crawl_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GENERAL WAT pass, stage 1: every anchor of every fetched
    HTML page, RESOLVED against the page's WARC-Target-URI (RFC 3986 §5
    reference resolution — functions/web.resolve_url handles absolute,
    protocol-relative, path-absolute, dot-segmented and path-relative
    hrefs) — no href-shape assumptions anywhere. Pages are deduplicated
    on their canonical URL first, so re-crawled records contribute one
    page each. Returns (src_canon, dst_canon): canonical source page ->
    canonical resolved target."""
    # Re-crawled duplicate-URL records collapse to ONE page per canon —
    # but keyed on the per-anchor ROWS (min winner key per canon over a
    # window), never by dropDuplicates over the records themselves:
    # that form sort-aggregated full HTML payloads through an exchange
    # before the parse (round 14; guide §8 — decide with small rows,
    # never shuffle the heavy bytes). Parsing the few duplicate records
    # too is far cheaper than shuffling every payload. The winner key is
    # (record_id, warc_file, record_offset) — guaranteed unique even
    # when malformed WARCs leave record_id empty, so tied-id duplicates
    # can never double-count anchors (round-15 advice item; same winner
    # as min(record_id) whenever ids are unique).
    from pyspark.sql import Window

    links = _anchor_rows(spark, sf_dir, with_text=False)
    w = Window.partitionBy("canon")
    key = F.struct("record_id", "warc_file", "record_offset")
    links = links.withColumn("_k0", F.min(key).over(w)).filter(
        key == F.col("_k0")
    )
    return links.select(
        F.col("canon").alias("src_canon"),
        canonical_url(F.col("resolved")).alias("dst_canon"),
    )


def crawl_links_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The general WAT pass with anchor TEXT: (anchor_text, dst_canon)
    per anchor of every deduped fetched HTML page — same
    parse/resolve/canonicalize path as _crawl_links, plus the
    whitespace-normalized text inside each anchor (the relevance/label
    signal WAT consumers mine)."""
    # Same single-Python-stage pass and per-page dedup as _crawl_links:
    # min unique winner key per canon over the small anchor rows, not
    # dropDuplicates over payload-carrying records (round 14; guide §8;
    # round-15 unique-key tie-break).
    from pyspark.sql import Window

    links = _anchor_rows(spark, sf_dir, with_text=True)
    w = Window.partitionBy("canon")
    key = F.struct("record_id", "warc_file", "record_offset")
    links = links.withColumn("_k0", F.min(key).over(w)).filter(
        key == F.col("_k0")
    )
    return links.select(
        "anchor_text",
        canonical_url(F.col("resolved")).alias("dst_canon"),
    )


def links_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The general link pass materialized ONCE as parquet — the WAT
    pattern (Common Crawl publishes WAT files precisely so every graph
    analysis doesn't re-parse the HTML): q_crawl_link_graph and
    q_crawl_anchor_text keep measuring the FRESH parse and pin its
    values; the derived analyses (pagerank, host graph, HITS, budget,
    inlink profiles) read this snapshot. Same build-once discipline as
    the ANN layouts and the fixture dirs."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "crawllinks-v1")

    def ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    def build(tmp: str) -> None:
        crawl_links(spark, sf_dir).write.mode("overwrite").parquet(tmp)

    build_once(out, ready, build)
    return spark.read.parquet(out)


def links_text_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor_text, dst_canon) snapshot — the text-bearing WAT half,
    same contract as links_snapshot."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "crawllinkstext-v1")

    def ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    def build(tmp: str) -> None:
        crawl_links_text(spark, sf_dir).write.mode("overwrite").parquet(tmp)

    build_once(out, ready, build)
    return spark.read.parquet(out)


# ---- q_psl_domains ----------------------------------------------------------

# hosts cycled by doc_id % 16, spanning: 2-label ccSLDs, 3-label rules,
# private platform suffixes, wildcard rules ('*' = one label),
# exception rules, and default-rule (last-two-labels) hosts
PSL_HOSTS = (
    "blog.example.co.uk",
    "shop.loja.com.br",
    "u1.github.io",
    "pupil.k12.ca.us",
    "bucket.s3.amazonaws.com",
    "deep.sub.example.com",
    "media.example.com.tr",
    "lab.example.ac.in",
    "app.demo.blogspot.com",
    "www.example.gob.mx",
    "cdn.example.org",
    "files.example.co.jp",
    "foo.bar.ck",  # wildcard *.ck => bar.ck is a suffix
    "deep.a.b.kawasaki.jp",  # wildcard *.kawasaki.jp
    "shop.www.ck",  # exception !www.ck => www.ck registrable
    "sub.city.kawasaki.jp",  # exception !city.kawasaki.jp
)


def host_case_sql(hosts: tuple[str, ...], key: str = "doc_id") -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{h}'" for i, h in enumerate(hosts[:-1])
    )
    return (
        f"CASE {key} % {len(hosts)} {whens} ELSE '{hosts[-1]}' END"
    )


def host_case_col(hosts: tuple[str, ...]) -> F.Column:
    col = F.lit(hosts[-1])
    expr = F.when(F.col("doc_id") % len(hosts) == 0, F.lit(hosts[0]))
    for i, h in enumerate(hosts[1:-1], start=1):
        expr = expr.when(F.col("doc_id") % len(hosts) == i, F.lit(h))
    return expr.otherwise(col)


# ---- q_src_sitemap ----------------------------------------------------------

_CHANGEFREQS = ("daily", "weekly", "monthly", "never")


def sitemap_entries(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """The fixture's url rows as a DataFrame (all codegen'd exprs):
    locs in the messy primary URL form, optional fields on fixed
    residues (lastmod %2==0; changefreq present when %3!=1, kind
    cycled by (doc_id + doc_id div 10) % 4 — decorrelated from the
    lastmod parity so every (lastmod?, kind) combination occurs;
    priority %5==0 at doc%10/10), shard = doc_id % 3."""
    src = os.path.join(sf_dir, "documents.parquet")
    freqs = ", ".join(f"'{c}'" for c in _CHANGEFREQS)
    return spark.read.parquet(src).selectExpr(
        "'https://'"
        " || (CASE WHEN doc_id % 5 = 0 THEN 'CRAWL.Example.com'"
        "          ELSE 'crawl.example.com' END)"
        " || (CASE WHEN doc_id % 9 = 4 THEN ':443' ELSE '' END)"
        " || '/' || source || '/' || CAST(doc_id AS STRING)"
        " || (CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END)"
        " || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'"
        "          ELSE '?a=1&b=2' END)"
        " || (CASE WHEN doc_id % 6 = 3 THEN '#frag' ELSE '' END) AS loc",
        "CASE WHEN doc_id % 2 = 0"
        "     THEN format_string('2026-01-%02d', 1 + doc_id % 3) "
        "END AS lastmod",
        f"CASE WHEN doc_id % 3 <> 1 THEN element_at(array({freqs}),"
        " CAST((doc_id + doc_id div 10) % 4 AS INT) + 1) END"
        " AS changefreq",
        "CASE WHEN doc_id % 5 = 0 THEN (doc_id % 10) / 10.0 END"
        " AS priority",
        "CAST(doc_id % 3 AS INT) AS shard",
    )


def sitemap_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once sitemaps.org fixture from the documents table,
    written through the DISTRIBUTED sitemap sink (sinks/sitemap.py —
    one task per urlset shard, spec caps enforced, tmp+rename): three
    shards by doc_id%3 (shard 0 gzipped), one sitemapindex referencing
    all three. No corpus rows ever route through the driver — the only
    driver-side step is the shard-cardinality index file."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sinks.sitemap import write_sitemap, write_sitemap_index

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "sitemap-v3")
    shard_names = ("urlset-0.xml.gz", "urlset-1.xml", "urlset-2.xml")
    names = shard_names + ("sitemap-index.xml",)

    def ready(d: str) -> bool:
        return all(os.path.exists(os.path.join(d, n)) for n in names)

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        manifest = write_sitemap(
            sitemap_entries(spark, sf_dir),
            tmp,
            gzip_shards={0},
        ).collect()  # shard-cardinality manifest, not corpus rows
        write_sitemap_index(tmp, [m["sitemap_file"] for m in manifest])

    return build_once(out, ready, build)


# Spark-side twin of formats._SITEMAP_URL_SQL's plain-url core:
# one capture URL per document, unique per doc_id
_CAP_URL_EXPR = (
    "'https://crawl.example.com/' || source || '/'"
    " || CAST(doc_id AS STRING)"
)


_R1_DATE = "2026-01-01T00:00:00Z"
_R2_DATE = "2026-02-01T00:00:00Z"


# ---- q_cdx_merge ------------------------------------------------------------


def _round_captures(
    spark: SparkSession, sf_dir: str, version: str, date: str,
    residue_filter: str | None = None,
) -> DataFrame:
    """One capture row per document (optionally residue-filtered):
    deterministic payload '{version}|{doc_id}|{source}' so byte
    identity between fetch paths is checkable without storing bytes."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    if residue_filter:
        docs = docs.filter(F.expr(residue_filter))
    return docs.selectExpr(
        f"{_CAP_URL_EXPR} AS target_uri",
        f"encode('{version}|' || CAST(doc_id AS STRING) || '|' || source,"
        " 'UTF-8') AS payload",
        "CAST(200 AS INT) AS http_status",
        "'text/plain' AS http_content_type",
        f"'{date}' AS warc_date",
        "CAST(doc_id % 2 AS INT) AS shard",
    )


def two_round_crawl_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once two-round crawl fixture for the merge gate: round-1
    archives over every document (v1 payloads), round-2 re-fetch of
    the doc_id%7==1 residue (v2 payloads, newer date), each round
    indexed from raw bytes and written as its own CDXJ shard set —
    all through the real sinks, one task per file. Cached like every
    other fixture (keyed on the documents parquet), so per-serve work
    is the OPERATOR under test (merge + fetch-back), not the setup;
    write_warc/index_warc/write_cdx stay per-serve-exercised by
    q_warc_dedup_export and q_cdx_index_roundtrip."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sinks.cdx import index_warc, write_cdx
    from roapi_spark.sinks.warc import write_warc

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "cdxmerge-v1")

    def ready(d: str) -> bool:
        return all(
            os.path.isdir(os.path.join(d, n))
            for n in ("archives", "idx_r1", "idx_r2")
        )

    def build(tmp: str) -> None:
        arch = os.path.join(tmp, "archives")
        write_warc(
            _round_captures(spark, sf_dir, "v1", _R1_DATE), arch,
            prefix="r1",
        ).count()
        write_warc(
            _round_captures(
                spark, sf_dir, "v2", _R2_DATE,
                residue_filter="doc_id % 7 = 1",
            ),
            arch,
            prefix="r2",
        ).count()
        for rnd in ("r1", "r2"):
            ptrs = index_warc(spark, arch, glob=f"{rnd}-*.warc*")
            write_cdx(
                ptrs.withColumn(
                    "shard", F.pmod(F.crc32(F.col("surt_key")), F.lit(2))
                ),
                os.path.join(tmp, f"idx_{rnd}"),
            ).count()

    return build_once(out, ready, build)


# ---- q_cdx_prefix_scan -------------------------------------------------------


def range_master_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once range-layout latest-capture master index over the
    two-round fixture — the cc-index/zipnum shape `read_cdx_prefix`
    prunes against. Cached so the per-serve work is the PRUNED SCAN
    under test, not the merge (which q_cdx_merge per-serve exercises)."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sinks.cdx import merge_cdx

    fixture = two_round_crawl_dir(spark, sf_dir)
    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "cdxmaster-v1")

    def ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_shards.idx"))

    def build(tmp: str) -> None:
        merge_cdx(
            spark,
            [os.path.join(fixture, f"idx_{r}") for r in ("r1", "r2")],
            tmp,
            n_shards=4,
            latest_only=True,
            layout="range",
        )

    return build_once(out, ready, build)


# ---- q_cdx_zipnum_lookup -----------------------------------------------------


def zipnum_master_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once ZIPNUM master (compressed-block cc-index layout) over
    the two-round fixture: 64-line blocks so the sf0.01 fixture yields
    several blocks per shard and pruning is actually exercised."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sinks.cdx import merge_cdx

    fixture = two_round_crawl_dir(spark, sf_dir)
    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "cdxzipnum-v1")

    def ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_cluster.idx"))

    def build(tmp: str) -> None:
        merge_cdx(
            spark,
            [os.path.join(fixture, f"idx_{r}") for r in ("r1", "r2")],
            tmp,
            n_shards=2,
            latest_only=True,
            layout="zipnum",
            block_lines=64,
        )

    return build_once(out, ready, build)
