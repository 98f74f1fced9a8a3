"""Web-ingestion primitives (functions/web.py): HTML main-text
extraction (chrome stripping + link-density heuristic) and URL
canonicalization / registrable-domain expressions. The Spark-expression
paths are asserted against literal expectations here; their DuckDB
mirrors are asserted by the crawl.py oracle gates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from roapi_spark.functions.web import (
    canonical_url,
    extract_main_text,
    registrable_domain,
)


class TestExtractMainText:
    def test_drops_chrome_containers(self):
        html = (
            "<html><head><title>T</title><style>a{}</style>"
            "<script>var x=1;</script></head><body>"
            "<nav><a href='/'>Home</a></nav>"
            "<header><h1>Heading</h1></header>"
            "<main><p>Real content here.</p></main>"
            "<footer>legal</footer></body></html>"
        )
        assert extract_main_text(html) == "Real content here."

    def test_link_dense_block_dropped(self):
        html = (
            "<body><div><a href='/1'>One</a> <a href='/2'>Two</a></div>"
            "<p>Body text that is not navigation.</p></body>"
        )
        assert extract_main_text(html) == "Body text that is not navigation."

    def test_half_link_block_kept(self):
        # exactly at the 0.5 boundary: kept (<=)
        html = "<body><p>abcd <a href='/x'>wxyz</a></p></body>"
        assert extract_main_text(html) == "abcd wxyz"

    def test_entities_unescaped_and_whitespace_normalized(self):
        html = "<body><p>a &amp; b\n\t &lt;c&gt;</p></body>"
        assert extract_main_text(html) == "a & b <c>"

    def test_multiple_blocks_joined(self):
        html = "<body><p>First para.</p><p>Second para.</p></body>"
        assert extract_main_text(html) == "First para. Second para."

    def test_unclosed_tags_tolerated(self):
        html = "<body><p>open paragraph<div>and a div"
        assert extract_main_text(html) == "open paragraph and a div"


URL_CASES = [
    # (raw, canonical)
    ("https://Example.COM/a", "https://example.com/a"),
    ("https://example.com:443/a", "https://example.com/a"),
    ("http://example.com:80/a", "http://example.com/a"),
    ("http://example.com:8080/a", "http://example.com:8080/a"),
    ("https://example.com", "https://example.com/"),
    ("https://example.com/a/b/", "https://example.com/a/b"),
    ("https://example.com/a#frag", "https://example.com/a"),
    (
        "https://example.com/a?b=2&a=1",
        "https://example.com/a?a=1&b=2",
    ),
    (
        "https://example.com/a?utm_source=x&a=1&gclid=g&fbclid=f",
        "https://example.com/a?a=1",
    ),
    (
        "https://example.com/a?utm_source=x",
        "https://example.com/a",
    ),
]


@pytest.mark.parametrize("raw, want", URL_CASES)
def test_canonical_url(spark, raw, want):
    df = spark.createDataFrame([(raw,)], "u string").select(
        canonical_url(F.col("u")).alias("c")
    )
    assert df.first()["c"] == want


DOMAIN_CASES = [
    ("news.example.com", "example.com"),
    ("example.com", "example.com"),
    ("a.b.c.example.org", "example.org"),
    ("blog.example.co.uk", "example.co.uk"),
    ("www.example.com.au", "example.com.au"),
    ("couk.example.net", "example.net"),  # suffix match is anchored
    # PSL-snapshot families beyond the original hand tuple
    ("shop.loja.com.br", "loja.com.br"),
    ("x.example.co.in", "example.co.in"),
    ("media.example.com.tr", "example.com.tr"),
    ("www.example.gob.mx", "example.gob.mx"),
    # private-section platform suffixes
    ("user1.github.io", "user1.github.io"),
    ("deep.user1.github.io", "user1.github.io"),
    ("demo.blogspot.com", "demo.blogspot.com"),
    # 3-label rules beat 2-label rules (longest suffix wins)
    ("pupil.k12.ca.us", "pupil.k12.ca.us"),
    ("bucket.s3.amazonaws.com", "bucket.s3.amazonaws.com"),
    ("city.ca.us", "city.ca.us"),  # 2-label ca.us still applies
    # wildcard rules: '*' matches exactly one label
    ("foo.bar.ck", "foo.bar.ck"),  # *.ck => bar.ck is a suffix
    ("deep.foo.bar.ck", "foo.bar.ck"),
    ("a.b.kawasaki.jp", "a.b.kawasaki.jp"),  # *.kawasaki.jp
    ("deep.a.b.kawasaki.jp", "a.b.kawasaki.jp"),
    # exception rules prevail over wildcards (the domain IS registrable)
    ("www.ck", "www.ck"),
    ("shop.www.ck", "www.ck"),
    ("city.kawasaki.jp", "city.kawasaki.jp"),
    ("sub.city.kawasaki.jp", "city.kawasaki.jp"),
]


def test_registrable_domain(spark):
    df = spark.createDataFrame(
        [(h,) for h, _ in DOMAIN_CASES], "h string"
    ).select("h", registrable_domain(F.col("h")).alias("d"))
    got = {r["h"]: r["d"] for r in df.collect()}
    assert got == dict(DOMAIN_CASES)


def test_registrable_domain_sql_mirror():
    """The DuckDB mirror is generated from the same snapshot file — the
    two engines must map every case identically."""
    import duckdb

    from roapi_spark.functions.web import registrable_domain_sql

    con = duckdb.connect()
    sql = registrable_domain_sql("h")
    for host, want in DOMAIN_CASES:
        got = con.execute(
            f"SELECT {sql} FROM (SELECT '{host}' AS h)"
        ).fetchone()[0]
        assert got == want, (host, got, want)


def test_psl_snapshot_loader():
    from roapi_spark.functions.web import load_public_suffixes

    rules = load_public_suffixes()
    assert "co.uk" in rules[2] and "github.io" in rules[2]
    assert "k12.ca.us" in rules[3] and "s3.amazonaws.com" in rules[3]
    assert "ck" in rules["w1"] and "kawasaki.jp" in rules["w2"]
    assert "www.ck" in rules["exc"] and "city.kobe.jp" in rules["exc"]
    # ≥10 distinct TLD families represented among the 2-label rules
    assert len({s.rsplit(".", 1)[1] for s in rules[2]}) >= 10


# RFC 3986 §5.4 reference-resolution examples (base = §5.4 base URI);
# includes the §5.4.2 abnormal cases
RFC3986_BASE = "http://a/b/c/d;p?q"
RFC3986_CASES = [
    ("g", "http://a/b/c/g"),
    ("./g", "http://a/b/c/g"),
    ("g/", "http://a/b/c/g/"),
    ("/g", "http://a/g"),
    ("//g", "http://g"),
    ("?y", "http://a/b/c/d;p?y"),
    ("g?y", "http://a/b/c/g?y"),
    ("#s", "http://a/b/c/d;p?q#s"),
    ("g#s", "http://a/b/c/g#s"),
    ("g?y#s", "http://a/b/c/g?y#s"),
    (";x", "http://a/b/c/;x"),
    ("g;x", "http://a/b/c/g;x"),
    ("g;x?y#s", "http://a/b/c/g;x?y#s"),
    ("", "http://a/b/c/d;p?q"),
    (".", "http://a/b/c/"),
    ("./", "http://a/b/c/"),
    ("..", "http://a/b/"),
    ("../", "http://a/b/"),
    ("../g", "http://a/b/g"),
    ("../..", "http://a/"),
    ("../../", "http://a/"),
    ("../../g", "http://a/g"),
    # §5.4.2 abnormal examples
    ("../../../g", "http://a/g"),
    ("../../../../g", "http://a/g"),
    ("/./g", "http://a/g"),
    ("/../g", "http://a/g"),
    ("g.", "http://a/b/c/g."),
    (".g", "http://a/b/c/.g"),
    ("g..", "http://a/b/c/g.."),
    ("..g", "http://a/b/c/..g"),
    ("./../g", "http://a/b/g"),
    ("./g/.", "http://a/b/c/g/"),
    ("g/./h", "http://a/b/c/g/h"),
    ("g/../h", "http://a/b/c/h"),
    ("g;x=1/./y", "http://a/b/c/g;x=1/y"),
    ("g;x=1/../y", "http://a/b/c/y"),
    ("g?y/./x", "http://a/b/c/g?y/./x"),
    ("g?y/../x", "http://a/b/c/g?y/../x"),
    ("g#s/./x", "http://a/b/c/g#s/./x"),
    ("g#s/../x", "http://a/b/c/g#s/../x"),
    ("http:g", "http:g"),  # strict parser
]


def test_resolve_url_rfc3986_examples():
    from roapi_spark.functions.web import resolve_url

    for ref, want in RFC3986_CASES:
        got = resolve_url(RFC3986_BASE, ref)
        assert got == want, (ref, got, want)


def test_resolve_url_crawl_shapes():
    from roapi_spark.functions.web import resolve_url

    base = "https://CRAWL.Example.com:443/src1/21/?a=1&b=2#frag"
    # base fragment never leaks; trailing-slash base dirs merge right
    assert (
        resolve_url(base, "../../src2/42?b=2&a=1")
        == "https://CRAWL.Example.com:443/src2/42?b=2&a=1"
    )
    assert (
        resolve_url(base, "//other.example.org/x")
        == "https://other.example.org/x"
    )
    assert (
        resolve_url("https://a.example.com/p/q", "/./s/../s/7?x=1")
        == "https://a.example.com/s/7?x=1"
    )
    # authority with empty path: merge gets a leading slash
    assert resolve_url("https://a.example.com", "g") == (
        "https://a.example.com/g"
    )


class TestRobots:
    """RFC 9309 parsing + most-specific-wins matching."""

    TXT = (
        "# policy\n"
        "User-agent: *\n"
        "Disallow: /\n"
        "\n"
        "User-agent: trainbot\n"
        "User-agent: otherbot\n"
        "Allow: /\n"
        "Disallow: /private\n"
        "Allow: /private/pub*.html$\n"
        "Disallow: /*.zip$\n"
        "Disallow:\n"  # empty pattern = no rule
    )

    def _rules(self, ua="trainbot"):
        from roapi_spark.functions.web import parse_robots

        return parse_robots(self.TXT, ua)

    def test_group_selection_specific_beats_wildcard(self):
        rules = self._rules()
        assert (True, "/") in rules  # from the trainbot group
        assert (False, "/") not in rules  # '*' group not merged in

    def test_multi_ua_group_and_case_insensitive(self):
        from roapi_spark.functions.web import parse_robots

        assert parse_robots(self.TXT, "OtherBot") == self._rules()

    def test_unknown_ua_falls_back_to_wildcard(self):
        from roapi_spark.functions.web import parse_robots, robots_allowed

        rules = parse_robots(self.TXT, "strangerbot")
        assert rules == [(False, "/")]
        assert not robots_allowed("/anything", rules)

    @pytest.mark.parametrize(
        "path, want",
        [
            ("/index.html", True),  # Allow: /
            ("/private/a", False),  # Disallow: /private (prefix)
            ("/privateer", False),  # prefix matches mid-token too
            ("/private/pub1.html", True),  # longer allow re-allows
            ("/private/pub1.html.bak", False),  # $ anchor must not match
            ("/data.zip", False),  # wildcard + anchor
            ("/data.zip.txt", True),  # anchored: suffix only
        ],
    )
    def test_matching(self, path, want):
        from roapi_spark.functions.web import robots_allowed

        assert robots_allowed(path, self._rules()) is want

    def test_allow_wins_length_ties(self):
        from roapi_spark.functions.web import robots_allowed

        rules = [(False, "/a/b"), (True, "/a/c"), (True, "/a/b"), (False, "/a/c")]
        assert robots_allowed("/a/b", rules)
        assert robots_allowed("/a/c", rules)

    def test_column_matcher_agrees_with_reference(self, spark):
        from pyspark.sql import functions as F

        from roapi_spark.functions.web import (
            robots_allowed,
            robots_allowed_col,
        )

        rules = self._rules()
        paths = [
            "/", "/index.html", "/private", "/private/", "/privateer",
            "/private/pub.html", "/private/pubX.html", "/x/data.zip",
            "/x/data.zip/y", "/a.zip", "/.zip",
        ]
        df = spark.createDataFrame([(p,) for p in paths], "p string").select(
            "p", robots_allowed_col(F.col("p"), rules).alias("ok")
        )
        got = {r["p"]: r["ok"] for r in df.collect()}
        assert got == {p: robots_allowed(p, rules) for p in paths}


class TestDecodeHttpText:
    def test_charset_variants(self):
        from roapi_spark.functions.web import decode_http_text

        assert decode_http_text(b"abc", "text/html") == "abc"
        assert decode_http_text(b"abc", None) == "abc"
        assert (
            decode_http_text(
                "café".encode("cp1252"), "text/html; charset=iso-8859-1"
            )
            == "café"
        )
        assert (
            decode_http_text(
                "héllo".encode("utf-16le"), 'text/html; charset="utf-16le"'
            )
            == "héllo"
        )

    def test_fail_closed(self):
        from roapi_spark.functions.web import decode_http_text

        # invalid bytes under the declared charset
        assert decode_http_text(b"\xff\xfe\x00ab", "text/html; charset=utf-8") is None
        # unknown charset
        assert decode_http_text(b"abc", "text/html; charset=shift_jis") is None


def test_rule_free_specific_group_overrides_wildcard():
    """RFC 9309: a group NAMING the crawler — even with only empty
    Disallow lines — overrides the '*' group entirely."""
    from roapi_spark.functions.web import parse_robots, robots_allowed

    txt = "User-agent: mybot\nDisallow:\n\nUser-agent: *\nDisallow: /\n"
    rules = parse_robots(txt, "mybot")
    assert rules == []
    assert robots_allowed("/anything", rules)


def test_robots_sql_escapes_quotes():
    import duckdb

    from roapi_spark.functions.web import robots_allowed, robots_allowed_sql

    rules = [(False, "/o'brien"), (True, "/")]
    sql = robots_allowed_sql("p", rules)
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {sql} FROM (VALUES ('/o''brien/x'), ('/ok')) t(p)"
    ).fetchall()
    assert [bool(r[0]) for r in got] == [
        robots_allowed("/o'brien/x", rules),
        robots_allowed("/ok", rules),
    ]
