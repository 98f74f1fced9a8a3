"""Cross-engine fuzz for the web-ingestion expressions: the crawl.py
oracles claim that functions/web's Spark column expressions and the
generated DuckDB SQL canonicalize/match IDENTICALLY — these tests
hammer that equivalence over generated inputs instead of the gates'
fixed residues, and pin parser robustness (a 100 TB crawl contains
every malformed page and policy file imaginable; kernels must never
throw an unexpected exception type)."""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from roapi_spark.functions.crawl import _canon_sql
from roapi_spark.functions.web import (
    canonical_url,
    extract_main_text,
    parse_robots,
    robots_allowed,
    robots_allowed_col,
    robots_allowed_sql,
)


def _gen_urls(rng: random.Random, n: int) -> list[str]:
    schemes = ["http", "https", "HTTP", "Https"]
    hosts = [
        "example.com", "Example.COM", "a.b.example.co.uk", "x--y.net",
        "example.com:443", "example.com:80", "example.com:8080",
    ]
    paths = ["", "/", "/a", "/a/", "/a//", "/a/b/c", "/a%20b", "/./a",
             "/a/b///", "/index.html", "/a b", "/a b/c d"]
    params = ["", "a=1", "b=2", "utm_source=x", "utm_medium=y", "gclid=g",
              "fbclid=f", "msclkid=m", "z=", "=v", "a=1&a=1", "empty",
              "q=a b"]
    frags = ["", "#f", "#a?b=2", "#"]
    out = []
    for _ in range(n):
        qs = "&".join(
            rng.sample(params, rng.randint(0, 4))
        )
        out.append(
            rng.choice(schemes)
            + "://"
            + rng.choice(hosts)
            + rng.choice(paths)
            + (("?" + qs) if qs or rng.random() < 0.2 else "")
            + rng.choice(frags)
        )
    return out


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_canonical_url_spark_duckdb_equivalence(spark, seed):
    """One batched comparison per seed: 120 generated messy URLs must
    canonicalize to the same string under the Spark expression and the
    generated DuckDB mirror the oracles embed."""
    urls = _gen_urls(random.Random(seed), 120)
    got_spark = [
        r["c"]
        for r in spark.createDataFrame([(u,) for u in urls], "u string")
        .select(canonical_url(F.col("u")).alias("c"))
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, u VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(urls)))
    got_duck = [
        r[0]
        for r in con.execute(
            f"SELECT {_canon_sql('u')} FROM t ORDER BY i"
        ).fetchall()
    ]
    assert got_spark == got_duck, [
        (u, a, b) for u, a, b in zip(urls, got_spark, got_duck) if a != b
    ][:3]


def _gen_rules(rng: random.Random) -> list[tuple[bool, str]]:
    segs = ["/", "/a", "/ab", "/a/b", "/*", "/*b", "/a*", "/a*b", "/a$",
            "/*b$", "/a/b$", "/a*b*c", "/.x", "/a+b"]
    return [
        (rng.random() < 0.5, rng.choice(segs))
        for _ in range(rng.randint(1, 6))
    ]


def _gen_paths(rng: random.Random, n: int) -> list[str]:
    alphabet = "ab/.x+$"
    return [
        "/" + "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 8)))
        for _ in range(n)
    ]


@pytest.mark.parametrize("seed", range(6))
def test_robots_matching_three_way_equivalence(spark, seed):
    """Python reference, Spark column matcher, and generated DuckDB SQL
    agree on random rule sets x random paths (wildcards, anchors, regex
    metacharacters in literals)."""
    rng = random.Random(seed)
    rules = _gen_rules(rng)
    paths = _gen_paths(rng, 60)
    want = [robots_allowed(p, rules) for p in paths]
    got_spark = [
        r["ok"]
        for r in spark.createDataFrame([(p,) for p in paths], "p string")
        .select(robots_allowed_col(F.col("p"), rules).alias("ok"))
        .collect()
    ]
    assert got_spark == want, (rules, [
        (p, a, b) for p, a, b in zip(paths, want, got_spark) if a != b
    ][:3])
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, p VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(paths)))
    sql = robots_allowed_sql("p", rules)
    got_duck = [
        bool(r[0])
        for r in con.execute(f"SELECT {sql} FROM t ORDER BY i").fetchall()
    ]
    assert got_duck == want, (rules, [
        (p, a, b) for p, a, b in zip(paths, want, got_duck) if a != b
    ][:3])


@pytest.mark.parametrize("seed", range(4))
def test_extract_never_raises_and_normalizes(seed):
    """Arbitrary tag soup: extraction must never raise and must emit
    fully whitespace-normalized text (no leading/trailing/double
    spaces)."""
    rng = random.Random(seed)
    vocab = [
        "<p>", "</p>", "<div>", "</div>", "<a href='/x'>", "</a>", "<br>",
        "<script>", "</script>", "<nav>", "</nav>", "< p", ">", "<",
        "&amp;", "&bogus;", "&#65;", "text", "  ", "\\n", "\t", "<!--",
        "-->", "<![CDATA[", "]]>", "<x", "y=z", "<a", "'", '"',
    ]
    for _ in range(40):
        soup = "".join(rng.choice(vocab) for _ in range(rng.randint(0, 60)))
        out = extract_main_text(soup)
        assert out == " ".join(out.split())


def test_parse_robots_never_raises_on_garbage():
    garbage = [
        "", ":", "::", "User-agent", "User-agent:", "Allow: /x\n" * 5,
        "Disallow: /\nUser-agent: a\n", "\x00\x01", "User-agent: *\n" * 50,
        "key without colon\nAllow /nope\nUser-agent: *\nDisallow: /a",
    ]
    for txt in garbage:
        rules = parse_robots(txt, "trainbot")
        for p in ("/", "/a", ""):
            assert robots_allowed(p, rules) in (True, False)


@pytest.mark.parametrize("seed", range(3))
def test_warc_parser_fails_closed_on_corruption(seed):
    """Truncations and byte flips of a valid WARC must raise
    WarcFormatError (or parse to valid records when the flip lands in a
    value byte) — never IndexError/KeyError/UnicodeDecodeError/struct
    errors: one garbage crawl file must not kill a scan stage with an
    exception type callers don't catch. Gzip corruption surfaces the
    stdlib's documented gzip/EOF errors, which read_warc_file callers
    treat as file-level failures."""
    import gzip as _gzip

    from roapi_spark.sources.warc import WarcFormatError, iter_records
    import io

    body = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>x</p>"
    whole = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:1>\r\n"
        b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        b"WARC-Target-URI: https://e.com/a\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        + f"Content-Length: {len(body)}\r\n\r\n".encode()
        + body
        + b"\r\n\r\n"
    ) * 3
    rng = random.Random(seed)
    for _ in range(150):
        b = bytearray(whole)
        for _ in range(rng.randint(1, 4)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        data = bytes(b[: rng.randrange(1, len(b) + 1)])
        try:
            list(iter_records(io.BufferedReader(io.BytesIO(data)), "f"))
        except WarcFormatError:
            pass  # the documented failure mode
        # anything else propagating is a test failure by exception


@pytest.mark.parametrize("seed", [0, 1])
def test_canonical_url_is_idempotent(spark, seed):
    """A canonical form must be a FIXED POINT: canonicalizing it again
    changes nothing (otherwise two passes of the pipeline would key
    the same page differently)."""
    urls = _gen_urls(random.Random(seed), 100)
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    once = df.select(canonical_url(F.col("u")).alias("c"))
    twice = once.select(
        F.col("c"), canonical_url(F.col("c")).alias("c2")
    ).filter(F.col("c") != F.col("c2"))
    bad = twice.collect()
    assert not bad, bad[:3]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_url_to_surt_spark_duckdb_equivalence(spark, seed):
    """url_to_surt and its generated DuckDB mirror must agree over the
    same messy-URL generator the canonical_url fuzz uses — the SURT
    join gate (q_cdx_surt_join) rests on this equivalence."""
    from roapi_spark.functions.web import url_to_surt, url_to_surt_sql

    urls = _gen_urls(random.Random(seed), 120)
    got_spark = [
        r["s"]
        for r in spark.createDataFrame([(u,) for u in urls], "u string")
        .select(url_to_surt(F.col("u")).alias("s"))
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, u VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(urls)))
    got_duck = [
        r[0]
        for r in con.execute(
            f"SELECT {url_to_surt_sql('u')} FROM t ORDER BY i"
        ).fetchall()
    ]
    assert got_spark == got_duck, [
        (u, a, b) for u, a, b in zip(urls, got_spark, got_duck) if a != b
    ][:3]


def test_url_to_surt_known_forms(spark):
    """Closed-form SURT pins: host reversal, port/tracking/fragment
    stripping, query sorting, bare-host and deep-label shapes."""
    from roapi_spark.functions.web import url_to_surt

    cases = {
        "https://Crawl.Example.COM:443/a/1?b=2&a=1#f": (
            "com,example,crawl)/a/1?a=1&b=2"
        ),
        "http://example.com:80/": "com,example)/",
        "https://example.com": "com,example)/",
        "https://a.b.c.example.co.uk/x/?utm_source=f": (
            "uk,co,example,c,b,a)/x"
        ),
        # literal spaces (invalid but seen in real crawl Target-URIs)
        # must %20-encode: a raw space would corrupt the space-delimited
        # CDXJ line format and desync writer/probe join keys
        "https://example.com/a b/c?q=x y": (
            "com,example)/a%20b/c?q=x%20y"
        ),
    }
    got = dict(
        spark.createDataFrame([(u,) for u in cases], "u string")
        .select("u", url_to_surt(F.col("u")).alias("s"))
        .collect()
    )
    assert got == cases


def test_ws_class_parity_on_vertical_tab(spark):
    """Java regex \\s matches \\x0B but DuckDB's RE2 \\s does not — the
    shared WS_CLASS must normalize identically on both engines (the
    dedup_apply digest and fingerprint oracles hash the result)."""
    import duckdb as _dd

    from roapi_spark.util import WS_CLASS

    texts = ["a\x0bb", "a b", "a\t\nb", "x\x0b\x0b y"]
    got_spark = [
        r["n"]
        for r in spark.createDataFrame([(t,) for t in texts], "t string")
        .select(F.regexp_replace("t", WS_CLASS + "+", " ").alias("n"))
        .collect()
    ]
    # WS_CLASS's backslash escapes pass through a DuckDB string literal
    # verbatim to RE2 (standard SQL strings don't process backslashes),
    # exactly as the oracle f-strings embed it
    con = _dd.connect()
    got_duck = [
        con.execute(
            f"SELECT REGEXP_REPLACE(?, '{WS_CLASS}+', ' ', 'g')", [t]
        ).fetchone()[0]
        for t in texts
    ]
    assert got_spark == got_duck == ["a b", "a b", "a b", "x y"]
