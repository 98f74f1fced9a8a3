"""Web-ingestion primitives: HTML main-text extraction, URL
canonicalization, registrable-domain extraction.

These are the operators a crawl-to-corpus pipeline applies between the
WARC scan (sources/warc.py) and the documents table the rest of the
pipeline suite (dedup / quality / tokenization) consumes. No reference
parity — columnq has no web-ingestion surface — this is
training-data-pipeline extension surface, built to the same standard:
JVM-side expressions wherever Spark can express the semantics, and
Arrow-batched Python only where it can't (HTML parsing).

Scale notes:

* ``extract_main_text`` is per-row pure Python (stdlib ``HTMLParser``,
  no regex backtracking hazards) applied through ``mapInPandas`` by the
  callers — cost is proportional to HTML bytes, embarrassingly
  parallel, no shuffle.
* ``canonical_url`` / ``registrable_domain`` are COMPOSED BUILT-INS
  (regexp_extract / array_sort / filter) — whole-stage codegen'd,
  mirrorable 1:1 in ANSI SQL for the DuckDB oracle, and usable as a
  shuffle key for URL-level dedup without any Python in the hot path.
"""

from __future__ import annotations

from html.parser import HTMLParser

from pyspark.sql import Column
from pyspark.sql import functions as F

# content-free containers: their text is chrome, not body
_DROP_TAGS = {
    "script", "style", "noscript", "template", "title", "svg",
    "nav", "header", "footer", "aside", "form", "iframe", "button",
}
# elements that delimit text blocks for the link-density heuristic
_BLOCK_TAGS = {
    "p", "div", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "br", "tr", "td", "table", "article", "section", "main",
    "blockquote", "pre", "body",
}
# a block whose characters are mostly anchor text is navigation chrome
_MAX_LINK_RATIO = 0.5


class _MainTextParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._drop_depth = 0
        self._link_depth = 0
        self._text: list[str] = []
        self._link_chars = 0
        self._total_chars = 0
        self.blocks: list[str] = []

    def _flush(self) -> None:
        text = " ".join("".join(self._text).split())
        if text and (
            self._total_chars == 0
            or self._link_chars / self._total_chars <= _MAX_LINK_RATIO
        ):
            self.blocks.append(text)
        self._text, self._link_chars, self._total_chars = [], 0, 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _DROP_TAGS:
            self._drop_depth += 1
        elif tag == "a":
            self._link_depth += 1
        elif tag in _BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in _DROP_TAGS:
            self._drop_depth = max(0, self._drop_depth - 1)
        elif tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        elif tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._drop_depth:
            return
        self._text.append(data)
        n = len(data.strip())
        self._total_chars += n
        if self._link_depth:
            self._link_chars += n


class _LinkParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[tuple[str, str]] = []  # (href, anchor text)
        self._href: str | None = None
        self._text: list[str] = []

    def _flush(self) -> None:
        if self._href is not None:
            self.links.append(
                (self._href, " ".join("".join(self._text).split()))
            )
        self._href, self._text = None, []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "a":
            self._flush()  # unclosed previous anchor still counts
            for name, value in attrs:
                if name == "href" and value:
                    self._href = value

    def handle_endtag(self, tag: str) -> None:
        if tag == "a":
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._href is not None:
            self._text.append(data)

    def close(self) -> None:  # trailing unclosed anchor
        super().close()
        self._flush()


def extract_links(html: str) -> list[str]:
    """All anchor hrefs of a page, document order, duplicates kept —
    the WAT-derivative pass a crawl link graph is built from. Callers
    resolve/canonicalize; this stays a pure parse."""
    return [href for href, _text in extract_links_with_text(html)]


def extract_links_with_text(html: str) -> list[tuple[str, str]]:
    """(href, whitespace-normalized anchor text) per anchor, document
    order — anchor text is the WAT-side relevance/label signal a crawl
    feeds into ranking and query-document mining."""
    p = _LinkParser()
    p.feed(html)
    p.close()
    return p.links


def extract_main_text(html: str) -> str:
    """Boilerplate-stripped main text of an HTML page: drops chrome
    containers (script/style/nav/header/footer/...), drops blocks whose
    text is >50% anchor text (link lists), whitespace-normalizes, and
    joins the surviving blocks with single spaces."""
    p = _MainTextParser()
    p.feed(html)
    p.close()
    p._flush()
    return " ".join(p.blocks)


# registrable-domain: the public-suffix rules are DATA (a pinned
# snapshot of publicsuffix.org entries shipped next to this module),
# not logic — the expressions below are composed from whatever that
# file says, so swapping in a fuller snapshot changes no code. Loading
# is LAZY and driver-only: mapInPandas kernels import this module on
# workers for the HTML parsers, and must not require the data file.
_PSL_FILE = "public_suffix_snapshot.dat"
_DOM2_RE = "([^.]+\\.[^.]+)$"


def load_public_suffixes() -> dict:
    """Public-suffix rules from the pinned snapshot, memoized:

    - keys ``2``/``3``: exact suffixes grouped by label count
      (``co.uk`` / ``k12.ca.us``);
    - ``w1``/``w2``: wildcard BASES — ``*.ck`` stores ``ck`` under
      ``w1`` (the ``*`` adds one label, so its effective suffixes are
      2-label), ``*.kawasaki.jp`` stores ``kawasaki.jp`` under ``w2``;
    - ``exc``: exception domains (``!www.ck`` -> ``www.ck``), which
      are registrable themselves and prevail over wildcards (the PSL
      match algorithm's exception rule).

    Rules the composition can't express (a ``*`` anywhere but the
    leading label, suffixes deeper than 3 labels) are rejected loudly
    so a full PSL dump can't silently half-apply."""
    cached = load_public_suffixes.__dict__.get("rules")
    if cached is not None:
        return cached
    import os as _os

    path = _os.path.join(_os.path.dirname(_os.path.abspath(__file__)),
                         _PSL_FILE)
    rules: dict = {2: [], 3: [], "w1": [], "w2": [], "exc": []}
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip().lower()
            if not line or line.startswith("//"):
                continue
            if line.startswith("!"):
                rules["exc"].append(line[1:])
                continue
            if line.startswith("*."):
                base = line[2:]
                if "*" in base:
                    raise ValueError(
                        f"{_PSL_FILE}: {line!r} — '*' is only supported "
                        "as the leading label"
                    )
                n_base = base.count(".") + 1
                if n_base not in (1, 2):
                    raise ValueError(
                        f"{_PSL_FILE}: {line!r} exceeds the 3-label "
                        "suffix depth this composition supports"
                    )
                rules[f"w{n_base}"].append(base)
                continue
            if "*" in line:
                raise ValueError(
                    f"{_PSL_FILE}: {line!r} — '*' is only supported as "
                    "the leading label"
                )
            n = line.count(".") + 1
            if n == 1:
                continue  # single-label suffixes are the default rule
            if n not in (2, 3):
                raise ValueError(
                    f"{_PSL_FILE}: {line!r} has {n} labels; loader "
                    "supports 2- and 3-label exact rules"
                )
            rules[n].append(line)
    out = {k: tuple(sorted(set(v))) for k, v in rules.items()}
    load_public_suffixes.__dict__["rules"] = out
    return out


def _esc(s: str) -> str:
    return s.replace(".", "\\.")


def _suffix_alt(n_labels: int) -> str:
    """Regex alternation over the EFFECTIVE n-label suffixes (exact
    rules plus wildcard rules expanded to ``[^.]+`` for the ``*``) —
    identical source for the Spark expression and the DuckDB mirror."""
    rules = load_public_suffixes()
    frags = [_esc(s) for s in rules[n_labels]]
    frags += [f"[^.]+\\.{_esc(b)}" for b in rules[f"w{n_labels - 1}"]]
    return "|".join(frags)


def _exception_alt() -> str:
    return "|".join(_esc(d) for d in load_public_suffixes()["exc"])

# tracking query parameters stripped during canonicalization — the
# SINGLE source for both engines: url_query_canonical derives the Spark
# lambda and tracking_filter_sql the DuckDB mirror from this tuple
TRACKING_PREFIXES = ("utm_", "fbclid", "gclid", "msclkid")


def tracking_filter_sql(var: str = "x") -> str:
    """DuckDB list_filter predicate body matching url_query_canonical."""
    conds = " ".join(
        f"AND NOT starts_with({var}, '{p}')" for p in TRACKING_PREFIXES
    )
    return f"{var} <> '' {conds}"


def url_scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))


def url_host(url: Column) -> Column:
    """Lower-cased host with default ports stripped (http:80, https:443)."""
    hostport = F.lower(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    )
    scheme = url_scheme(url)
    return (
        F.when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .otherwise(hostport)
    )


def url_path(url: Column) -> Column:
    """Path with trailing slashes collapsed; empty path reads as '/'."""
    raw = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    trimmed = F.regexp_replace(raw, "/+$", "")
    return F.when(trimmed == "", F.lit("/")).otherwise(trimmed)


def url_query_canonical(url: Column) -> Column:
    """Query string with tracking params removed and the rest sorted
    bytewise — order-insensitive equality for URL dedup."""
    qs = F.regexp_extract(url, r"\?([^#]*)", 1)

    def keep(p: Column) -> Column:
        cond = p != ""
        for prefix in TRACKING_PREFIXES:
            cond = cond & (~p.startswith(prefix))
        return cond

    return F.array_join(F.array_sort(F.filter(F.split(qs, "&"), keep)), "&")


def canonical_url(url: Column) -> Column:
    """Canonical form: lower scheme+host, default port stripped, fragment
    dropped, trailing-slash-normalized path, tracking params removed,
    remaining query params sorted. Pure built-ins — codegen'd, usable as
    a dedup/shuffle key, and mirrored 1:1 in the DuckDB oracles."""
    q = url_query_canonical(url)
    return F.concat(
        url_scheme(url),
        F.lit("://"),
        url_host(url),
        url_path(url),
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )


def registrable_domain(host: Column) -> Column:
    """Registrable domain (eTLD+1) — the PSL match algorithm over the
    pinned snapshot, as pure composed built-ins (alternations compile
    once per task; the column stays codegen'd and shuffle-key-safe).
    Branch order IS rule precedence: exception rules prevail (the
    named domain is itself registrable), then the longest matching
    suffix (3-label effective — exact or wildcard-expanded — beats
    2-label beats the implicit 1-label default). Edge convention: a
    host that IS a public suffix has no registrable domain per the
    PSL; this composition returns its last two labels (for an exact
    multi-label suffix, the host itself) — callers that must drop
    such rows filter them explicitly."""
    exc, alt3, alt2 = _exception_alt(), _suffix_alt(3), _suffix_alt(2)
    expr = F.when(
        host.rlike(f"\\.(?:{alt3})$"),
        F.regexp_extract(host, f"([^.]+\\.(?:{alt3}))$", 1),
    ).when(
        host.rlike(f"\\.(?:{alt2})$"),
        F.regexp_extract(host, f"([^.]+\\.(?:{alt2}))$", 1),
    ).otherwise(F.regexp_extract(host, _DOM2_RE, 1))
    if exc:
        expr = F.when(
            host.rlike(f"(^|\\.)(?:{exc})$"),
            F.regexp_extract(host, f"((?:{exc}))$", 1),
        ).otherwise(expr)
    return expr


def registrable_domain_sql(host_expr: str) -> str:
    """DuckDB mirror of registrable_domain, generated from the SAME
    snapshot file so the two engines can never disagree on a rule."""
    exc, alt3, alt2 = _exception_alt(), _suffix_alt(3), _suffix_alt(2)
    exc_branch = (
        f"WHEN regexp_matches({host_expr}, '(^|\\.)(?:{exc})$') "
        f"THEN regexp_extract({host_expr}, '((?:{exc}))$', 1) "
        if exc
        else ""
    )
    return (
        f"CASE {exc_branch}"
        f"WHEN regexp_matches({host_expr}, '\\.(?:{alt3})$') "
        f"THEN regexp_extract({host_expr}, '([^.]+\\.(?:{alt3}))$', 1) "
        f"WHEN regexp_matches({host_expr}, '\\.(?:{alt2})$') "
        f"THEN regexp_extract({host_expr}, '([^.]+\\.(?:{alt2}))$', 1) "
        f"ELSE regexp_extract({host_expr}, '{_DOM2_RE}', 1) END"
    )


# --- SURT (Sort-friendly URI Reordering Transform) ---------------------------
#
# The key form CDX(J) crawl indexes are sorted by (pywb / Common Crawl
# cc-index convention, same public-documentation standing as the CDXJ
# format sources/cdx.py parses): canonicalized URL with the host labels
# reversed and comma-joined, a ')' separator, then path+query —
# 'https://Crawl.Example.COM:443/a/1?b=2&a=1#f' ->
# 'com,example,crawl)/a/1?a=1&b=2'. url_to_surt is the read-side
# complement of the CDX source: it turns corpus URLs into the key an
# index probe / index join needs (sources/cdx.py parses the keys an
# index SHIPS; nothing previously generated one from a URL).


def url_to_surt(url: Column) -> Column:
    """SURT key of a URL, canonicalized first (the exact canonical_url
    pipeline: lower host, default ports stripped, fragment dropped,
    trailing-slash-normalized path, tracking params removed, remaining
    query sorted) so messy variants of one page produce ONE key. Pure
    composed built-ins — codegen'd and usable directly as a join/
    shuffle key against a CDX index's surt_key column."""
    q = url_query_canonical(url)
    key = F.concat(
        F.array_join(F.reverse(F.split(url_host(url), r"\.")), ","),
        F.lit(")"),
        url_path(url),
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    # literal spaces (invalid per RFC 3986 but seen in real crawl
    # Target-URIs) would corrupt the space-delimited CDXJ line format;
    # percent-encode them like pywb's canonicalizer so keys stay
    # join-consistent between index writers and probe generators
    return F.replace(key, F.lit(" "), F.lit("%20"))


def url_scheme_sql(col: str) -> str:
    return f"lower(regexp_extract({col}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"


def url_host_sql(col: str) -> str:
    """DuckDB mirror of url_host — same regexes, same port stripping."""
    scheme = url_scheme_sql(col)
    hostport = (
        f"lower(regexp_extract({col}, "
        f"'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))"
    )
    return (
        f"CASE WHEN {scheme} = 'https' "
        f"THEN regexp_replace({hostport}, ':443$', '') "
        f"WHEN {scheme} = 'http' "
        f"THEN regexp_replace({hostport}, ':80$', '') "
        f"ELSE {hostport} END"
    )


def url_path_sql(col: str) -> str:
    """DuckDB mirror of url_path."""
    rawpath = (
        f"regexp_extract({col}, "
        f"'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1)"
    )
    return (
        f"CASE WHEN regexp_replace({rawpath}, '/+$', '') = '' THEN '/' "
        f"ELSE regexp_replace({rawpath}, '/+$', '') END"
    )


def url_query_canonical_sql(col: str) -> str:
    """DuckDB mirror of url_query_canonical. COALESCE: DuckDB's
    array_to_string([]) is NULL where Spark's array_join([]) is ''."""
    qs = f"regexp_extract({col}, '\\?([^#]*)', 1)"
    return (
        f"COALESCE(array_to_string(list_sort(list_filter("
        f"string_split({qs}, '&'), "
        f"x -> {tracking_filter_sql('x')})), '&'), '')"
    )


def url_to_surt_sql(col: str) -> str:
    """DuckDB mirror of url_to_surt, composed from the same fragment
    builders as canonical_url's mirror so the engines cannot drift."""
    host = url_host_sql(col)
    q = url_query_canonical_sql(col)
    return (
        f"replace(array_to_string(list_reverse(string_split({host}, '.')), ',')"
        f" || ')' || {url_path_sql(col)} || "
        f"(CASE WHEN {q} = '' THEN '' ELSE '?' || {q} END), ' ', '%20')"
    )


# --- RFC 3986 §5: reference resolution (urljoin semantics) ------------------
#
# From-spec implementation used by the crawl link-graph pass to resolve
# every anchor href (absolute, protocol-relative, path-absolute,
# path-relative, dot-segmented, query/fragment-only) against the page's
# WARC-Target-URI. Pure per-row Python applied inside the Arrow-batched
# links kernel — resolution output feeds the JVM-side canonical_url, so
# the shuffle keys downstream stay codegen'd. Pinned to the RFC §5.4
# normal + abnormal reference examples in tests/test_web_extract.py.

import re as _re_mod

# RFC 3986 appendix B: the URI-splitting regex, verbatim shape
_URI_SPLIT = _re_mod.compile(
    r"^(?:([A-Za-z][A-Za-z0-9+.\-]*):)?(?://([^/?#]*))?"
    r"([^?#]*)(?:\?([^#]*))?(?:#(.*))?$"
)


def _split_uri(uri: str):
    """(scheme, authority, path, query, fragment); absent parts None
    (path: empty string), per RFC 3986 §3."""
    m = _URI_SPLIT.match(uri)
    return m.group(1), m.group(2), m.group(3) or "", m.group(4), m.group(5)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4, the five-case loop verbatim."""
    out: list[str] = []
    inp = path
    while inp:
        if inp.startswith("../"):
            inp = inp[3:]
        elif inp.startswith("./"):
            inp = inp[2:]
        elif inp.startswith("/./"):
            inp = "/" + inp[3:]
        elif inp == "/.":
            inp = "/"
        elif inp.startswith("/../"):
            inp = "/" + inp[4:]
            if out:
                out.pop()
        elif inp == "/..":
            inp = "/"
            if out:
                out.pop()
        elif inp in (".", ".."):
            inp = ""
        else:
            cut = inp.find("/", 1)  # first segment incl. any leading '/'
            if cut == -1:
                out.append(inp)
                inp = ""
            else:
                out.append(inp[:cut])
                inp = inp[cut:]
    return "".join(out)


def resolve_url(base: str, ref: str) -> str:
    """Resolve ``ref`` against ``base`` — RFC 3986 §5.2.2 (strict) +
    §5.2.3 path merge + §5.3 recomposition."""
    b_s, b_a, b_p, b_q, _b_f = _split_uri(base)
    r_s, r_a, r_p, r_q, r_f = _split_uri(ref)
    if r_s is not None:
        s, a, p, q = r_s, r_a, _remove_dot_segments(r_p), r_q
    elif r_a is not None:
        s, a, p, q = b_s, r_a, _remove_dot_segments(r_p), r_q
    elif r_p == "":
        s, a, p = b_s, b_a, b_p
        q = r_q if r_q is not None else b_q
    else:
        s, a = b_s, b_a
        if r_p.startswith("/"):
            p = _remove_dot_segments(r_p)
        elif b_a is not None and b_p == "":
            p = _remove_dot_segments("/" + r_p)
        else:
            cut = b_p.rfind("/")
            merged = (b_p[: cut + 1] if cut >= 0 else "") + r_p
            p = _remove_dot_segments(merged)
        q = r_q
    parts = []
    if s is not None:
        parts.append(s + ":")
    if a is not None:
        parts.append("//" + a)
    parts.append(p)
    if q is not None:
        parts.append("?" + q)
    if r_f is not None:
        parts.append("#" + r_f)
    return "".join(parts)


def decode_http_text(payload: bytes, content_type: str | None) -> str | None:
    """Decode an HTTP text payload using the charset parameter of its
    Content-Type (RFC 9110 §8.3; default utf-8, which covers ascii).
    Returns None — fail-closed per record, the multimodal-codec
    convention — for unknown charsets or bytes invalid under the
    declared one, so a mojibake page becomes a counted extraction miss,
    never silently corrupted corpus text."""
    charset = "utf-8"
    for part in str(content_type or "").split(";")[1:]:
        k, sep, v = part.partition("=")
        if sep and k.strip().lower() == "charset":
            charset = v.strip().strip("\"'").lower()
    if charset in ("utf-8", "utf8", "us-ascii", "ascii"):
        codec = "utf-8"
    elif charset in ("iso-8859-1", "latin-1", "latin1", "windows-1252",
                     "cp1252"):
        # windows-1252 is the WHATWG-mandated superset reading of 8859-1
        codec = "cp1252"
    elif charset in ("utf-16", "utf-16le", "utf-16be"):
        codec = charset
    else:
        return None
    try:
        return payload.decode(codec)
    except (UnicodeDecodeError, ValueError):
        return None


# --- robots.txt (Robots Exclusion Protocol, RFC 9309) -----------------------
#
# Parsing is from the spec: '#' comments, "key: value" lines, groups of
# consecutive User-agent lines followed by Allow/Disallow rules; a crawler
# obeys the union of the groups naming its product token (case-insensitive
# exact match) and falls back to the '*' groups only when none do. Rule
# precedence at match time is the RFC's most-specific-wins: the rule whose
# PATH PATTERN has the most octets wins; on an allow/disallow tie, allow
# wins. Patterns support '*' (any run of octets) and a trailing '$' (end
# anchor). An empty Disallow value means "everything allowed" (ignored as
# a rule). No rule matching at all means allowed.


def parse_robots(txt: str, user_agent: str) -> list[tuple[bool, str]]:
    """Rules ``(allow, pattern)`` applying to ``user_agent``."""
    ua = user_agent.strip().lower()
    specific: list[tuple[bool, str]] = []
    wildcard: list[tuple[bool, str]] = []
    group_uas: list[str] = []
    in_rules = False
    saw_specific = False  # a group NAMING the UA overrides '*' even if
    # its only rules are empty-Disallow (RFC 9309: rule-free group =
    # everything allowed for that agent)

    def sink() -> list[tuple[bool, str]] | None:
        nonlocal saw_specific
        if ua in group_uas:
            saw_specific = True
            return specific
        if "*" in group_uas:
            return wildcard
        return None

    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, value = line.partition(":")
        if not sep:
            continue
        key, value = key.strip().lower(), value.strip()
        if key == "user-agent":
            if in_rules:  # a new group starts
                group_uas, in_rules = [], False
            group_uas.append(value.lower())
        elif key in ("allow", "disallow", "crawl-delay"):
            # crawl-delay is group-scoped like the path rules, so it
            # CLOSES the user-agent run exactly as robots_crawl_delay
            # sees it — both parsers must agree on group structure for
            # 'UA: a / Crawl-delay: 1 / UA: b / Disallow: /x'
            in_rules = True
            dest = sink()  # marks the group seen even for empty values
            # (a group whose only directive is a crawl-delay still
            # wins UA selection, as protego/pywb resolve it)
            if key == "crawl-delay" or value == "" or dest is None:
                continue  # empty pattern matches nothing (allow-all)
            dest.append((key == "allow", value))
    return specific if saw_specific else wildcard


def robots_crawl_delay(txt: str, user_agent: str) -> float | None:
    """``Crawl-delay`` for ``user_agent`` (seconds) — not in RFC 9309
    but the de-facto extension crawlers honor; group-scoped like the
    allow/disallow rules: a group naming the agent beats '*', first
    value in the winning group wins, non-numeric values are ignored
    (real robots files carry garbage). None = no delay declared — the
    caller applies its own politeness default."""
    ua = user_agent.strip().lower()
    specific: list[float] = []
    wildcard: list[float] = []
    group_uas: list[str] = []
    in_rules = False
    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, value = line.partition(":")
        if not sep:
            continue
        key, value = key.strip().lower(), value.strip()
        if key == "user-agent":
            if in_rules:
                group_uas, in_rules = [], False
            group_uas.append(value.lower())
        elif key in ("allow", "disallow", "crawl-delay"):
            in_rules = True
            if key != "crawl-delay":
                continue
            try:
                delay = float(value)
            except ValueError:
                continue
            if ua in group_uas:
                specific.append(delay)
            elif "*" in group_uas:
                wildcard.append(delay)
    if specific:
        return specific[0]
    return wildcard[0] if wildcard else None


def robots_sitemaps(txt: str) -> list[str]:
    """``Sitemap:`` directives from a robots.txt (RFC 9309 §2.2.4 /
    sitemaps.org discovery: group-independent, case-insensitive key,
    absolute URL value) — the discovery hop between the robots surface
    and the sitemap source: fetch robots, collect these, feed the
    sitemap parser. Order-preserving, duplicates dropped."""
    out: list[str] = []
    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        key, sep, rest = line.partition(":")
        if sep and key.strip().lower() == "sitemap":
            url = rest.strip()  # the URL's own colon stays in `rest`
            if url and url not in out:
                out.append(url)
    return out


def robots_regex(pattern: str) -> str:
    """Anchored regex for a robots path pattern — kept to syntax both
    Java regex (Spark) and RE2 (DuckDB) accept identically."""
    import re as _re

    anchored_end = pattern.endswith("$")
    body = pattern[:-1] if anchored_end else pattern
    parts = [_re.escape(p) for p in body.split("*")]
    return "^" + ".*".join(parts) + ("$" if anchored_end else "")


def robots_allowed(path: str, rules: list[tuple[bool, str]]) -> bool:
    """Reference matcher (used by tests and kernel-side callers)."""
    import re as _re

    best_len, best_allow = -1, True
    for allow, pattern in rules:
        if _re.match(robots_regex(pattern), path):
            plen = len(pattern)
            if plen > best_len or (plen == best_len and allow):
                best_len, best_allow = plen, allow
    return best_allow


def robots_allowed_col(path: Column, rules: list[tuple[bool, str]]) -> Column:
    """The same most-specific-wins decision as composed built-ins: one
    rlike per rule, GREATEST over matched pattern lengths per side,
    allow >= disallow. Codegen'd; mirrored by robots_allowed_sql."""
    def side(want_allow: bool) -> Column:
        lens = [
            F.when(path.rlike(robots_regex(p)), F.lit(len(p))).otherwise(
                F.lit(-1)
            )
            for allow, p in rules
            if allow == want_allow
        ]
        if not lens:
            return F.lit(-1)
        return F.greatest(*lens) if len(lens) > 1 else lens[0]

    return side(True) >= side(False)


def robots_allowed_sql(path_expr: str, rules: list[tuple[bool, str]]) -> str:
    """DuckDB mirror of robots_allowed_col, generated from the same
    parsed rule list."""
    def side(want_allow: bool) -> str:
        # robots.txt is untrusted crawled content: double any single
        # quote so a pattern like /o'brien cannot terminate (or inject
        # into) the generated SQL literal
        lens = [
            f"(CASE WHEN regexp_matches({path_expr}, "
            f"'{robots_regex(p).replace(chr(39), chr(39) * 2)}') "
            f"THEN {len(p)} ELSE -1 END)"
            for allow, p in rules
            if allow == want_allow
        ]
        if not lens:
            return "-1"
        return lens[0] if len(lens) == 1 else "GREATEST(" + ", ".join(lens) + ")"

    return f"({side(True)} >= {side(False)})"
