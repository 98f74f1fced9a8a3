"""WARC (Web ARChive, ISO 28500 / WARC 1.0-1.1) loader: the ingest
seam a web-crawl training-data pipeline starts from (Common Crawl
publishes everything as ``.warc.gz``).

No reference parity — columnq has no WARC loader — this is part of the
training-data-pipeline extension surface, feeding the HTML-extraction /
URL-canonicalization / crawl-funnel operators (functions/crawl.py).

Format (from the spec, not a library):

* A WARC file is a sequence of records. ``.warc.gz`` files hold one
  gzip member per record (spec annex C recommendation; Common Crawl
  does exactly this) — Python's ``gzip`` transparently reads
  concatenated members, so both layouts decode through one stream.
* Each record: a version line (``WARC/1.0`` or ``WARC/1.1``), CRLF
  header lines ``Name: value`` (with RFC-5322-style space/tab
  continuations), a blank line, exactly ``Content-Length`` octets of
  block, then CRLF CRLF.
* ``response``/``request`` records whose ``Content-Type`` starts with
  ``application/http`` carry an HTTP message in the block: status/
  request line, headers, blank line, payload.

Scale design: the DRIVER only lists file paths; each task streams ONE
file (``gzip.open`` / buffered reads — a record at a time, never the
whole file in memory) and yields Arrow batches via ``mapInPandas``.
Parallelism = number of WARC files, the standard unit for crawl data
(a Common Crawl snapshot is ~90k x ~1 GB files). Framing errors fail
LOUDLY with file + record offset — a truncated crawl file must never
silently shorten a corpus.

Options:
    glob:   filename pattern when ``uri`` is a directory
            (default ``*.warc*``)
    types:  comma-separated WARC-Type filter, e.g. ``response``
            (default: all record types)
    recursive: walk nested directories (crawl segments) when ``uri``
            is a directory (default false)
Schema:
    warc_file string, record_offset bigint, warc_type string,
    record_id string, target_uri string, warc_date string,
    content_type string, content_length bigint, http_status int,
    http_content_type string, payload binary
"""

from __future__ import annotations

import fnmatch
import gzip
import io
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from roapi_spark.config import TableSource

SCHEMA = (
    "warc_file string, record_offset bigint, warc_type string, "
    "record_id string, target_uri string, warc_date string, "
    "refers_to string, content_type string, content_length bigint, "
    "http_status int, http_content_type string, payload binary"
)

_FIELDS = [f.strip().split(" ")[0] for f in SCHEMA.split(",")]


class WarcFormatError(ValueError):
    pass


def _read_headers(stream: io.BufferedIOBase, where: str) -> dict[str, str]:
    """Named-field block: ``Name: value`` lines, space/tab continuation,
    terminated by an empty line. Returns lower-cased names."""
    headers: dict[str, str] = {}
    last: str | None = None
    while True:
        line = stream.readline()
        if not line:
            raise WarcFormatError(f"unterminated header block at {where}")
        if line in (b"\r\n", b"\n"):
            return headers
        if line[:1] in (b" ", b"\t"):
            if last is None:
                raise WarcFormatError(f"continuation before any header at {where}")
            headers[last] += " " + line.strip().decode("utf-8", "replace")
            continue
        name, sep, value = line.partition(b":")
        if not sep:
            raise WarcFormatError(
                f"malformed header line {line[:60]!r} at {where}"
            )
        last = name.strip().decode("ascii", "replace").lower()
        headers[last] = value.strip().decode("utf-8", "replace")


def _parse_http(block: bytes) -> tuple[int | None, str | None, bytes]:
    """Split an application/http block into (status, content-type,
    payload). A request message (no status code) reports status None."""
    head, sep, payload = block.partition(b"\r\n\r\n")
    if not sep:  # some writers emit bare-LF HTTP heads
        head, sep, payload = block.partition(b"\n\n")
        if not sep:
            return None, None, block
    lines = head.replace(b"\r\n", b"\n").split(b"\n")
    start = lines[0].split(None, 2)
    status: int | None = None
    if len(start) >= 2 and start[0][:5] == b"HTTP/" and start[1].isdigit():
        status = int(start[1])
    ctype: str | None = None
    for ln in lines[1:]:
        name, s, value = ln.partition(b":")
        if s and name.strip().lower() == b"content-type":
            ctype = value.strip().decode("latin-1")
            break
    return status, ctype, payload


def iter_records(
    stream: io.BufferedIOBase, warc_file: str
) -> Iterator[dict]:
    """Yield one dict per WARC record from a decompressed byte stream.

    ``record_offset`` is the offset in the DECOMPRESSED stream (for
    per-member .gz files this equals the record index boundary; it
    exists to make framing errors reproducible, not for random access).
    """
    offset = 0
    while True:
        # tolerate extra CRLFs between records (some writers pad)
        line = stream.readline()
        while line in (b"\r\n", b"\n"):
            offset += len(line)
            line = stream.readline()
        if not line:
            return
        where = f"{warc_file} @{offset}"
        version = line.strip().decode("ascii", "replace")
        if not version.startswith("WARC/"):
            raise WarcFormatError(
                f"expected WARC version line, got {line[:60]!r} at {where}"
            )
        headers = _read_headers(stream, where)
        try:
            clen = int(headers["content-length"])
        except KeyError:
            raise WarcFormatError(f"record without Content-Length at {where}")
        except ValueError:
            raise WarcFormatError(
                f"non-integer Content-Length "
                f"{headers['content-length']!r} at {where}"
            )
        block = stream.read(clen)
        if len(block) != clen:
            raise WarcFormatError(
                f"truncated record: Content-Length {clen} but only "
                f"{len(block)} octets available at {where}"
            )
        # spec: two CRLFs close every record (tolerate bare-LF writers)
        for _ in range(2):
            t = stream.read(1)
            if t == b"\r":
                t += stream.read(1)
            if t not in (b"\r\n", b"\n"):
                raise WarcFormatError(f"bad record trailer {t!r} at {where}")
        # spec §5.18: segmented records split one logical payload across
        # physical records. Parsing a segment as a whole record would
        # silently serve a PARTIAL payload — reject loudly instead
        # (Common Crawl does not segment; a reassembler can be added
        # behind this error if a real corpus needs it).
        if "warc-segment-number" in headers:
            raise WarcFormatError(
                f"segmented WARC records (WARC-Segment-Number) are not "
                f"supported at {where}"
            )
        wtype = headers.get("warc-type", "")
        ctype = headers.get("content-type", "")
        status: int | None = None
        http_ctype: str | None = None
        payload = block
        if ctype.split(";")[0].strip().lower().startswith("application/http"):
            status, http_ctype, payload = _parse_http(block)
        yield {
            "warc_file": warc_file,
            "record_offset": offset,
            "warc_type": wtype,
            "record_id": headers.get("warc-record-id", ""),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            # revisit records (ISO 28500 §6.7 — crawl-side dedup) point
            # at the record holding the payload they matched: by record
            # id (warc-refers-to) or, WARC 1.1, by target URI — one
            # column surfaces whichever pointer form the writer used
            "refers_to": headers.get("warc-refers-to")
            or headers.get("warc-refers-to-target-uri"),
            # declared payload digest (ISO 28500 §5.9, Base32 SHA-1 by
            # convention) — the indexer uses it for revisit records,
            # whose own block is headers-only
            "payload_digest": headers.get("warc-payload-digest"),
            "content_type": ctype or None,
            "content_length": clen,
            "http_status": status,
            "http_content_type": http_ctype,
            "payload": payload,
        }
        # bookkeeping offset for the NEXT record's error messages:
        # re-derive from the stream (gzip streams report decompressed
        # position); fall back to a lower bound on pure pipes
        try:
            offset = stream.tell()
        except (OSError, ValueError):
            offset += clen


_GZ_MAGIC = b"\x1f\x8b"


def parse_warc_bytes(data: bytes, name: str) -> Iterator[dict]:
    """Yield records from in-memory WARC bytes (gzip members or plain —
    decided by the gzip MAGIC, not the name: an http-fetched .warc.gz
    lands in a temp file without its extension). The streaming ingest
    path (Spark's binaryFile file-stream source delivers whole files as
    rows) parses through this; the batch path streams from disk via
    ``read_warc_file``."""
    raw: io.BufferedIOBase
    if data[:2] == _GZ_MAGIC:
        raw = gzip.GzipFile(fileobj=io.BytesIO(data))
    else:
        raw = io.BytesIO(data)
    yield from iter_records(io.BufferedReader(raw), name)


def read_warc_file(path: str, label: str | None = None) -> Iterator[dict]:
    """Open one .warc / .warc.gz file and yield its records (streaming —
    constant memory in the file size). Compression is sniffed from the
    gzip magic, never the extension. ``label`` becomes ``warc_file`` —
    callers doing recursive discovery pass the root-relative path so
    same-named files in different segments stay distinguishable."""
    with open(path, "rb") as probe:
        is_gz = probe.read(2) == _GZ_MAGIC
    raw: io.BufferedIOBase
    if is_gz:
        raw = gzip.open(path, "rb")  # reads concatenated members
    else:
        raw = open(path, "rb")
    try:
        yield from iter_records(
            io.BufferedReader(raw), label or os.path.basename(path)
        )
    finally:
        raw.close()


def read_record_at(
    path: str, offset: int, length: int, label: str | None = None
) -> dict:
    """Random-access fetch of ONE record by (offset, length) pointer —
    the CDX-index access pattern: seek, read exactly the pointed-at
    bytes (an independent gzip member in member-per-record files, a raw
    record slice in plain files — disambiguated by the gzip magic), and
    parse. Fail-loud framing: short reads and pointers that do not
    frame exactly one record are errors, never partial rows."""
    with open(path, "rb") as f:
        f.seek(offset)
        data = f.read(length)
    if len(data) != length:
        raise WarcFormatError(
            f"short read at {path}@{offset}: wanted {length} octets, "
            f"got {len(data)}"
        )
    recs = list(parse_warc_bytes(data, label or os.path.basename(path)))
    if len(recs) != 1:
        raise WarcFormatError(
            f"pointer {path}@{offset}+{length} frames {len(recs)} "
            "records, expected exactly 1"
        )
    return recs[0]


def fetch_records(pointers: DataFrame, base_dir: str) -> DataFrame:
    """Random-access fetch operator: one parsed WARC record per CDX
    pointer row. ``pointers`` must carry ``warc_filename`` / ``offset``
    / ``length``; every OTHER pointer column passes through prefixed
    ``ptr_`` (so index fields never shadow record fields). Arrow-batched
    mapInPandas; per-row cost is one seek+read of ~one record, never a
    file scan — the 100 TB pattern for serving a sparse capture subset
    out of archives that are otherwise never opened."""
    coord = ("warc_filename", "offset", "length")
    extras = [f for f in pointers.schema.fields if f.name not in coord]
    cols = list(coord) + [f.name for f in extras]
    out_schema = SCHEMA + "".join(
        f", ptr_{f.name} {f.dataType.simpleString()}" for f in extras
    )
    extra_names = [f.name for f in extras]

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for tup in pdf[cols].itertuples(index=False):
                rec = read_record_at(
                    os.path.join(base_dir, str(tup.warc_filename)),
                    int(tup.offset),
                    int(tup.length),
                )
                rec = dict(rec)
                for n in extra_names:
                    rec[f"ptr_{n}"] = getattr(tup, n)
                rows.append(rec)
            yield pd.DataFrame(
                rows, columns=_FIELDS + [f"ptr_{n}" for n in extra_names]
            )

    return pointers.select(*cols).mapInPandas(kernel, out_schema)


def _list_files(uri: str, glob: str, recursive: bool = False) -> list[str]:
    if os.path.isdir(uri):
        if recursive:
            # crawls nest archives (segments/, per-day dirs): walk depth-
            # first, sorted, so the file order — and therefore task
            # assignment — is deterministic
            paths = sorted(
                os.path.join(root, n)
                for root, _dirs, files in os.walk(uri)
                for n in files
                if fnmatch.fnmatch(n, glob) and not n.startswith((".", "_"))
            )
        else:
            # isfile filter (mirrors the walk branch, which yields only
            # files): a subdirectory named like the glob must not fail
            # the whole scan. Hidden/underscore-prefixed names (Hadoop
            # FileInputFormat convention) are skipped so the sink's
            # in-flight '.name.tmp-<pid>' files — which fnmatch's '*'
            # would otherwise match — never poison a scan even if a
            # dead task leaves one behind
            paths = [
                p
                for n in sorted(os.listdir(uri))
                if fnmatch.fnmatch(n, glob)
                and not n.startswith((".", "_"))
                and os.path.isfile(p := os.path.join(uri, n))
            ]
        if not paths:
            raise WarcFormatError(f"no {glob!r} files under {uri}")
        return paths
    if not os.path.isfile(uri):
        raise WarcFormatError(f"WARC source not found: {uri}")
    return [uri]


def to_dataframe(spark: SparkSession, ts: TableSource) -> DataFrame:
    import pandas as pd

    files = _list_files(
        ts.uri,
        str(ts.option.get("glob", "*.warc*")),
        recursive=str(ts.option.get("recursive", "false")).lower()
        == "true",
    )
    types = {
        t.strip()
        for t in str(ts.option.get("types", "")).split(",")
        if t.strip()
    }
    # payload=false: metadata-only scans (URL sets, type counts, revisit
    # resolution) still stream-decompress every record — unavoidable in
    # the format — but never materialize corpus bytes into Arrow
    # batches, which is the dominant transfer cost of such passes
    keep_payload = (
        str(ts.option.get("payload", "true")).lower() != "false"
    )

    paths = spark.createDataFrame(
        [(p,) for p in files], "path string"
    ).repartition(len(files), "path")

    root = ts.uri if os.path.isdir(ts.uri) else None

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: list[dict] = []
        for pdf in batches:
            for p in pdf["path"]:
                # root-relative label: segments/00/data.warc.gz and
                # segments/01/data.warc.gz must not collapse
                label = os.path.relpath(p, root) if root else None
                for rec in read_warc_file(p, label):
                    if types and rec["warc_type"] not in types:
                        continue
                    if not keep_payload:
                        rec["payload"] = None
                    buf.append(rec)
                    if len(buf) >= 256:
                        yield pd.DataFrame(buf, columns=_FIELDS)
                        buf = []
        if buf:
            yield pd.DataFrame(buf, columns=_FIELDS)

    return paths.mapInPandas(parse, SCHEMA)
