"""Hyperlink extraction and the host link graph — the bridge from crawled
HTML to graph-shaped curation signals (anchor-text corpora, link-based
host ranking a la Common Crawl's host-level webgraph).

``extract_links`` parses anchors out of raw HTML with the same regex
discipline as the boilerplate family (no parser library; pure Column
expressions, exact DuckDB twin) and resolves each href against the page's
base URI using a documented RFC 3986 SUBSET:

  * absolute (``http://``/``https://``) hrefs pass through,
  * protocol-relative (``//host/...``) inherit the base scheme,
  * root-relative (``/...``) resolve against the base host,
  * everything else resolves against the base path's directory
    (NO ``..``/``.`` segment normalization — at corpus scale dot-segment
    links are rare and a normalizer belongs in url_canonicalize),
  * fragment-only, ``javascript:``, ``mailto:``, ``data:`` and ``tel:``
    hrefs are dropped; fragments are stripped from resolved URLs.

Scale shape: extraction is one narrow pass (transform over
regexp_extract_all + explode — no shuffle, no Python); ``host_edges`` is
a single (src_host, dst_host) aggregation whose map-side partials absorb
the per-page link fan-out, and its output feeds ``operators/graph.pagerank``
directly for link-based host ranking.

The reference repo has no crawl path (it is an OCR/PDF service); this
module implements the web-corpus requirement from public pipeline designs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.text import py_strip

ANCHOR_FULL_RE = r"(?is)<a\b[^>]*>.*?</a>"
_HREF_DQ_RE = r'(?i)\bhref\s*=\s*"([^"]*)"'
_HREF_SQ_RE = r"(?i)\bhref\s*=\s*'([^']*)'"
_A_SHELL_RE = r"(?is)^<a\b[^>]*>|</a>$"
_TAG_RE = r"(?s)<[^>]*>"
_SKIP_RE = r"(?i)^(?:#|javascript:|mailto:|data:|tel:)"


def _base_parts(base: Column) -> tuple[Column, Column, Column]:
    """(scheme, host, directory) of a base URI; directory always ends in
    '/' ('/' when the base has no path)."""
    scheme = F.lower(F.regexp_extract(base, r"^(?i)(https?)://", 1))
    host = F.lower(F.regexp_extract(base, r"^(?i)https?://([^/?#]*)", 1))
    path = F.regexp_extract(base, r"^(?i)https?://[^/?#]*([^?#]*)", 1)
    d = F.regexp_replace(path, r"[^/]*$", "")
    return scheme, host, F.when(d == "", F.lit("/")).otherwise(d)


def _resolve(href: Column, scheme: Column, host: Column, dirp: Column) -> Column:
    url = (
        F.when(href.rlike(r"^(?i)https?://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(
            href.startswith("/"),
            F.concat(scheme, F.lit("://"), host, href),
        )
        .otherwise(F.concat(scheme, F.lit("://"), host, dirp, href))
    )
    return F.regexp_replace(url, r"(?s)#.*$", "")


#: Query parameters that never change page content — the click/campaign
#: trackers every crawl canonicalizer strips (Google Analytics utm_*,
#: Google/Facebook/Microsoft click ids, Mailchimp, Instagram share ids).
TRACKING_PARAMS_RE = (
    r"(?i)^(?:utm_[^=&]*|gclid|fbclid|msclkid|mc_eid|igshid)(?:=.*)?$"
)

#: Dot-segment nesting deeper than this is left as-is (bounded unroll;
#: see :func:`url_canonicalize`). Real crawled URLs sit at depth ≤3.
DOT_SEGMENT_PASSES = 8


def _dot_segments(p: Column, passes: int = DOT_SEGMENT_PASSES) -> Column:
    """Bounded RFC 3986 §5.2.4 remove_dot_segments as pure regexp passes.

    Each pass peels one layer: ``/./`` and trailing ``/.`` vanish, a
    leading ``/../`` (a parent ref above the root) collapses to ``/``,
    and ``/seg/../`` drops the segment with its parent ref.  The segment
    alternation spells out "any segment except ``.`` and ``..``" WITHOUT
    lookaheads (RE2, the oracle's engine, has none): starts with a
    non-dot, or one dot then a non-dot, or two dots then more.  A bare
    ``[^/]+`` would be wrong — regexp_replace's scan continues AFTER each
    replacement, so in ``/c/../../../d`` the second match would take the
    literal ``..`` as a segment and swallow a parent ref that should pop
    an earlier directory.  A consecutive ``..`` run therefore resolves
    one level per pass; ``passes`` bounds the nesting depth handled
    (fuzz-tested against a literal RFC reference in
    tests/test_links.py)."""
    seg = r"(?:[^/.][^/]*|\.[^/.][^/]*|\.\.[^/]+)"
    for _ in range(passes):
        p = F.regexp_replace(p, r"/\./", "/")
        p = F.regexp_replace(p, r"/\.$", "/")
        p = F.regexp_replace(p, r"^/\.\./", "/")
        p = F.regexp_replace(p, r"^/\.\.$", "/")
        p = F.regexp_replace(p, rf"/{seg}/\.\./", "/")
        p = F.regexp_replace(p, rf"/{seg}/\.\.$", "/")
    return p


def url_canonicalize(
    url: Column,
    drop_params: str = TRACKING_PARAMS_RE,
    dot_passes: int = DOT_SEGMENT_PASSES,
) -> Column:
    """Canonical form of an absolute http(s) URL — the frontier/dedup key
    normalizer the module contract promises (two URLs that name the same
    resource must compare equal, or the frontier re-crawls and the dedup
    index double-counts). Pure Column expressions with an exact DuckDB
    twin; non-http(s) inputs (relative hrefs, mailto:, …) pass through
    trimmed.

    The documented subset, applied in order:

    * strip the fragment; trim surrounding whitespace,
    * lowercase the scheme and the host, drop ``user:pass@`` userinfo,
    * drop the default port (``:80`` http / ``:443`` https; other ports
      and non-numeric suffixes are kept verbatim),
    * empty path becomes ``/``; dot-segments resolve per RFC 3986
      §5.2.4 via :func:`_dot_segments` (bounded at ``dot_passes``),
    * the query splits on ``&``; empty params and ``drop_params``
      matches (default: the :data:`TRACKING_PARAMS_RE` click-tracker
      set) drop; survivors SORT bytewise and rejoin — param order never
      distinguishes resources; a now-empty query loses its ``?``.

    Out of scope (kept verbatim, documented): percent-encoding case
    normalization, duplicate-slash collapsing, IDN/punycode, and path
    case (path case is significant on most origin servers).

    Scale shape: one narrow expression pass, no shuffle, no Python —
    safe to apply to every outlink of every page in the crawl."""
    u = py_strip(url)
    nofrag = F.regexp_replace(u, r"(?s)#.*$", "")
    is_abs = nofrag.rlike(r"^(?i)https?://")
    scheme = F.lower(F.regexp_extract(nofrag, r"^(?i)(https?)://", 1))
    auth = F.regexp_extract(nofrag, r"^(?i)https?://([^/?#]*)", 1)
    rawpath = F.regexp_extract(nofrag, r"^(?i)https?://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(nofrag, r"(?s)^[^?]*\?(.*)$", 1)
    hostport = F.lower(F.regexp_replace(auth, r"^[^@]*@", ""))
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    host = F.regexp_replace(hostport, r":\d+$", "")
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    path = _dot_segments(
        F.when(rawpath == "", F.lit("/")).otherwise(rawpath), dot_passes
    )
    params = F.filter(
        F.split(query, "&"), lambda x: (x != "") & ~x.rlike(drop_params)
    )
    qstr = F.array_join(F.array_sort(params), "&")
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(qstr != "", F.concat(F.lit("?"), qstr)).otherwise(F.lit("")),
    )
    return F.when(is_abs, rebuilt).otherwise(u)


def extract_links(
    docs: DataFrame,
    base_col: str = "base_uri",
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per kept anchor: (doc_id, url, anchor, src_host, dst_host,
    internal). ``anchor`` is the tag-stripped, whitespace-trimmed anchor
    text; ``internal`` marks same-host links."""
    scheme, src_host, dirp = _base_parts(F.coalesce(F.col(base_col), F.lit("")))
    anchors = F.regexp_extract_all(
        F.coalesce(F.col(html_col), F.lit("")), F.lit(ANCHOR_FULL_RE), 0
    )

    def link(a: Column) -> Column:
        dq = F.regexp_extract(a, _HREF_DQ_RE, 1)
        sq = F.regexp_extract(a, _HREF_SQ_RE, 1)
        href = py_strip(F.when(dq != "", dq).otherwise(sq))
        text = py_strip(
            F.regexp_replace(F.regexp_replace(a, _A_SHELL_RE, ""), _TAG_RE, "")
        )
        return F.struct(href.alias("href"), text.alias("anchor"))

    kept = F.filter(
        F.transform(anchors, link),
        lambda l: (l["href"] != "") & ~l["href"].rlike(_SKIP_RE),
    )
    rows = docs.select(
        F.col(id_col).alias("doc_id"),
        scheme.alias("__scheme"),
        src_host.alias("src_host"),
        dirp.alias("__dir"),
        F.explode(kept).alias("l"),
    )
    url = _resolve(
        F.col("l.href"), F.col("__scheme"), F.col("src_host"), F.col("__dir")
    )
    dst_host = F.lower(
        F.regexp_extract(url, r"^(?i)https?://(?:[^/?#]*@)?([^/?#]*)", 1)
    )
    return rows.select(
        "doc_id",
        url.alias("url"),
        F.col("l.anchor").alias("anchor"),
        "src_host",
        dst_host.alias("dst_host"),
        (dst_host == F.col("src_host")).alias("internal"),
    )


META_ROBOTS_RE = (
    r"(?is)<meta\b[^>]*\bname\s*=\s*[\"']robots[\"'][^>]*>"
)
LINK_CANONICAL_RE = r"(?is)<link\b[^>]*\brel\s*=\s*[\"']canonical[\"'][^>]*>"
_CONTENT_DQ_RE = r'(?i)\bcontent\s*=\s*"([^"]*)"'
_CONTENT_SQ_RE = r"(?i)\bcontent\s*=\s*'([^']*)'"


def _meta_content(tag: Column) -> Column:
    dq = F.regexp_extract(tag, _CONTENT_DQ_RE, 1)
    sq = F.regexp_extract(tag, _CONTENT_SQ_RE, 1)
    return F.lower(F.when(dq != "", dq).otherwise(sq))


def robots_meta_directive(html: Column, word: str) -> Column:
    """True when ANY robots meta in ``html`` carries ``word`` (or ``none``,
    which implies both noindex and nofollow) — the union-of-metas /
    most-restrictive-wins semantics as a standalone Column, so corpus
    ingest paths can gate on noindex without computing the full
    :func:`page_directives` output."""
    metas = F.regexp_extract_all(
        F.coalesce(html, F.lit("")), F.lit(META_ROBOTS_RE), 0
    )
    return F.exists(
        metas, lambda m: _meta_content(m).rlike(rf"\b(?:{word}|none)\b")
    )


def page_directives(
    docs: DataFrame,
    base_col: str = "base_uri",
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """Crawl-hygiene page directives — the two signals a crawl pipeline
    honors before a page may enter the corpus: the robots meta tag
    (``noindex`` / ``nofollow``; ``none`` means both, and across multiple
    robots metas the most restrictive directive wins — the documented
    union semantics) and ``rel=canonical`` (the syndication/pagination
    dedup signal: copies collapse onto the canonical URL, resolved against
    the page base with the same RFC-subset resolver as
    :func:`extract_links`). Attribute order inside the tags is free and
    both quote styles parse, same as the anchor scanner.

    One narrow pass of regexp/array expressions — the corpus never
    shuffles. Returns (doc_id, noindex, nofollow, canonical_url,
    canonical_is_self); ``canonical_url`` is '' when the page declares
    none, ``canonical_is_self`` when it resolves to the page's own
    (fragment-stripped) base URI."""
    html = F.coalesce(F.col(html_col), F.lit(""))

    def has_directive(word: str) -> Column:
        return robots_meta_directive(html, word)

    canon_tag = F.regexp_extract(html, LINK_CANONICAL_RE, 0)
    dq = F.regexp_extract(canon_tag, _HREF_DQ_RE, 1)
    sq = F.regexp_extract(canon_tag, _HREF_SQ_RE, 1)
    href = py_strip(F.when(dq != "", dq).otherwise(sq))
    base = F.coalesce(F.col(base_col), F.lit(""))
    scheme, host, dirp = _base_parts(base)
    canon = F.when(href == "", F.lit("")).otherwise(
        _resolve(href, scheme, host, dirp)
    )
    self_uri = F.regexp_replace(base, r"(?s)#.*$", "")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        has_directive("noindex").alias("noindex"),
        has_directive("nofollow").alias("nofollow"),
        canon.alias("canonical_url"),
        ((canon != "") & (canon == self_uri)).alias("canonical_is_self"),
    )


_UA_LINE_RE = r"(?i)^user-agent\s*:"
_UA_VALUE_RE = r"(?i)^user-agent\s*:(.*)$"
_RULE_LINE_RE = r"(?i)^(?:allow|disallow)\s*:"
_RULE_KIND_RE = r"(?i)^(allow|disallow)\s*:"
_RULE_PATH_RE = r"(?i)^(?:allow|disallow)\s*:(.*)$"
_SITEMAP_RE = r"(?i)^sitemap\s*:(.*)$"


def _robots_lines(body_col: str) -> Column:
    """robots.txt body → cleaned line array: split on LF, strip comments
    (``#`` to end of line), strip surrounding whitespace (swallows CR from
    CRLF bodies). Never empty — ``split('')`` is ``['']``."""
    return F.transform(
        F.split(F.coalesce(F.col(body_col), F.lit("")), "\n"),
        lambda l: py_strip(F.regexp_replace(l, r"(?s)#.*$", "")),
    )


def _robots_group_scaffold(
    robots: DataFrame, agent: str, host_col: str, body_col: str
):
    """The shared RFC 9309 group machinery: cleaned lines, per-line
    User-agent flags, the UA-run block id per line (consecutive
    ``User-agent`` lines share one block), plus a 1-based line index and
    the lowered agent token. robots_rules and robots_crawl_delay both
    build on this so the group semantics exist exactly once."""
    agent_l = agent.strip().lower()
    ln = _robots_lines(body_col).alias("ln")
    r0 = robots.select(F.col(host_col).alias("host"), ln)
    r1 = r0.select(
        "host",
        "ln",
        F.transform("ln", lambda l: l.rlike(_UA_LINE_RE)).alias("isua"),
    )
    idx = F.sequence(F.lit(1), F.size("ln"))

    def ua_start(j: Column) -> Column:
        return F.element_at(F.col("isua"), j) & (
            (j == 1) | ~F.element_at(F.col("isua"), j - 1)
        )

    blk = F.transform(
        idx, lambda i: F.size(F.filter(F.sequence(F.lit(1), i), ua_start))
    )
    r2 = r1.select("host", "ln", "isua", blk.alias("blk"))
    line = lambda i: F.element_at(F.col("ln"), i)  # noqa: E731
    return r2, line, idx, agent_l


def _robots_group_uas(line, idx) -> Column:
    """(block id, lowered agent token) per User-agent line."""
    return F.transform(
        F.filter(idx, lambda i: F.element_at(F.col("isua"), i)),
        lambda i: F.struct(
            F.element_at(F.col("blk"), i).alias("b"),
            F.lower(py_strip(F.regexp_extract(line(i), _UA_VALUE_RE, 1))).alias(
                "ua"
            ),
        ),
    )


def _robots_group_sel(agent_l: str) -> Column:
    """Most-specific-group choice: the exact agent token when ANY group
    names it, else '*' (reads the ``uas`` column)."""
    return F.when(
        F.exists("uas", lambda u: u["ua"] == agent_l), F.lit(agent_l)
    ).otherwise(F.lit("*"))


def robots_rules(
    robots: DataFrame,
    agent: str,
    host_col: str = "host",
    body_col: str = "body",
) -> DataFrame:
    """Parse robots.txt bodies into the allow/disallow rules that apply to
    ``agent`` — the Robots Exclusion Protocol (RFC 9309) with a documented
    subset: group semantics (consecutive ``User-agent`` lines share the
    rules that follow; a later ``User-agent`` line starts a new group;
    rules before any group are invalid and dropped), comments stripped,
    directive names case-insensitive, rule paths case-sensitive, empty
    ``Allow:``/``Disallow:`` values are no-ops, and agent matching is
    lowercased exact-token-else-``*`` (if ANY group names the agent
    exactly, only those groups apply — the star groups are ignored, per
    the spec's most-specific-group rule; RFC wildcard paths ``*``/``$``
    and ``Crawl-delay`` are out of the subset and such lines parse as
    literal paths / unknown lines).

    Scale shape: one narrow pass of array expressions per robots row (the
    group-id fold is a quadratic index scan bounded by the robots file's
    own line count — robots.txt is KB-sized by convention) followed by one
    explode; the corpus is never touched. Returns
    (host, block_id, allow, path), one row per applicable rule."""
    r2, line, idx, agent_l = _robots_group_scaffold(
        robots, agent, host_col, body_col
    )
    uas = _robots_group_uas(line, idx)
    rls = F.transform(
        F.filter(idx, lambda i: line(i).rlike(_RULE_LINE_RE)),
        lambda i: F.struct(
            F.element_at(F.col("blk"), i).alias("b"),
            (
                F.lower(F.regexp_extract(line(i), _RULE_KIND_RE, 1)) == "allow"
            ).alias("allow"),
            py_strip(F.regexp_extract(line(i), _RULE_PATH_RE, 1)).alias("path"),
        ),
    )
    r3 = r2.select("host", uas.alias("uas"), rls.alias("rls"))
    sel = _robots_group_sel(agent_l)
    kept = F.filter(
        F.col("rls"),
        lambda r: (r["path"] != "")
        & (r["b"] >= 1)
        & F.exists(
            "uas", lambda u: (u["b"] == r["b"]) & (u["ua"] == F.col("__sel"))
        ),
    )
    r4 = r3.withColumn("__sel", sel).select(
        "host", F.explode(kept).alias("r")
    )
    return r4.select(
        "host",
        F.col("r.b").cast("long").alias("block_id"),
        F.col("r.allow").alias("allow"),
        F.col("r.path").alias("path"),
    )


_DELAY_LINE_RE = r"(?i)^crawl-delay\s*:"
_DELAY_VALUE_RE = r"(?i)^crawl-delay\s*:(.*)$"
_DELAY_NUM_RE = r"^\d+(\.\d+)?$"


def robots_crawl_delay(
    robots: DataFrame,
    agent: str,
    host_col: str = "host",
    body_col: str = "body",
) -> DataFrame:
    """Per-host ``Crawl-delay`` — the de-facto politeness directive (not
    in RFC 9309 but honored by most crawlers; the rate half of frontier
    politeness next to :func:`crawl_frontier`'s per-host top-k cap).
    Group selection is the SAME most-specific-agent rule as
    :func:`robots_rules` (shared scaffold — the semantics exist once);
    across the applicable groups the LARGEST delay wins (the conservative
    read of a contradictory file). Seconds parse as exact integer
    milli-units (fractional digits beyond 3 truncated, same convention as
    sitemap priority); malformed or absent values yield NULL — one row
    per input host either way, so the frontier can LEFT JOIN and fall
    back to its default politeness.

    One narrow pass of array expressions per robots row; the corpus is
    never touched. Returns (host, delay_millis)."""
    r2, line, idx, agent_l = _robots_group_scaffold(
        robots, agent, host_col, body_col
    )
    uas = _robots_group_uas(line, idx)
    dls = F.transform(
        F.filter(idx, lambda i: line(i).rlike(_DELAY_LINE_RE)),
        lambda i: F.struct(
            F.element_at(F.col("blk"), i).alias("b"),
            py_strip(F.regexp_extract(line(i), _DELAY_VALUE_RE, 1)).alias("v"),
        ),
    )
    r3 = r2.select("host", uas.alias("uas"), dls.alias("dls"))
    sel = _robots_group_sel(agent_l)
    kept = F.filter(
        F.col("dls"),
        lambda d: (d["b"] >= 1)
        & d["v"].rlike(_DELAY_NUM_RE)
        & F.exists(
            "uas", lambda u: (u["b"] == d["b"]) & (u["ua"] == F.col("__sel"))
        ),
    )
    frac3 = lambda v: F.rpad(  # noqa: E731
        F.substring(F.regexp_extract(v, r"\.(\d+)$", 1), 1, 3), 3, "0"
    )
    millis = F.transform(
        kept,
        lambda d: F.regexp_extract(d["v"], r"^(\d+)", 1).cast("long") * 1000
        + F.coalesce(frac3(d["v"]).try_cast("long"), F.lit(0)),
    )
    return r3.withColumn("__sel", sel).select(
        "host", F.array_max(millis).alias("delay_millis")
    )


def robots_sitemaps(
    robots: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """``Sitemap:`` declarations — group-independent per RFC 9309 §2.3.
    Returns (host, sitemap_url), one row per non-empty declaration."""
    lines = _robots_lines(body_col)
    maps = F.filter(
        F.transform(
            lines, lambda l: py_strip(F.regexp_extract(l, _SITEMAP_RE, 1))
        ),
        lambda v: v != "",
    )
    return robots.select(
        F.col(host_col).alias("host"), F.explode(maps).alias("sitemap_url")
    )


def robots_gate(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gate URLs through parsed robots rules (:func:`robots_rules` output)
    — the fetch-permission decision a crawl pipeline makes before a page
    may enter the corpus. Longest-path-prefix match wins; an ``Allow``
    beats a ``Disallow`` of equal length; no matching rule (or no robots
    row for the host at all) means allowed. Matching is against the URL's
    path-plus-query with the fragment stripped ('' → '/').

    Scale shape: rules collapse to ONE array row per host before the join,
    so the build side is host-cardinality (robots files, not URLs). No
    broadcast hint on purpose: a site-scoped crawl's rules table is KB and
    AQE converts the join to broadcast at runtime, while a full-web rules
    table (~10⁸ hosts) correctly falls back to a shuffle join on ``host``
    — the same key the URL corpus shuffles on for its host-level stats, so
    the exchange is reusable. Returns (doc_id, url, host, allowed,
    matched_len) where ``matched_len`` is the winning rule's path length
    (0 = no rule matched)."""
    host_rules = rules.groupBy("host").agg(
        F.collect_list(F.struct("allow", "path")).alias("rules")
    )
    host = F.lower(
        F.regexp_extract(
            F.col(url_col), r"^(?i)https?://(?:[^/?#]*@)?([^/?#]*)", 1
        )
    )
    path0 = F.regexp_extract(
        F.regexp_replace(F.col(url_col), r"(?s)#.*$", ""),
        r"^(?i)https?://[^/?#]*(.*)$",
        1,
    )
    upath = F.when(path0 == "", F.lit("/")).otherwise(path0)
    u = urls.select(
        F.col(id_col).alias("doc_id"),
        F.col(url_col).alias("url"),
        host.alias("host"),
        upath.alias("__path"),
    )
    j = u.join(host_rules, "host", "left")
    matches = F.filter(
        F.coalesce(
            F.col("rules"),
            F.array().cast("array<struct<allow:boolean,path:string>>"),
        ),
        lambda r: F.col("__path").startswith(r["path"]),
    )
    j = j.withColumn("__m", matches)
    best = F.array_max(F.transform("__m", lambda r: F.length(r["path"])))
    allowed = (F.size("__m") == 0) | F.exists(
        "__m", lambda r: (F.length(r["path"]) == F.col("__best")) & r["allow"]
    )
    return (
        j.withColumn("__best", best)
        .select(
            "doc_id",
            "url",
            "host",
            allowed.alias("allowed"),
            F.coalesce(F.col("__best"), F.lit(0)).cast("long").alias(
                "matched_len"
            ),
        )
    )


_SM_URL_BLOCK_RE = r"(?is)<url\b[^>]*>.*?</url>"
_SM_SMAP_BLOCK_RE = r"(?is)<sitemap\b[^>]*>.*?</sitemap>"
_SM_LOC_RE = r"(?is)<loc\s*>\s*(.*?)\s*</loc>"
_SM_LASTMOD_RE = r"(?is)<lastmod\s*>\s*(.*?)\s*</lastmod>"
_SM_PRIO_RE = r"(?is)<priority\s*>\s*(.*?)\s*</priority>"
_PRIO_VALID_RE = r"^[01](\.[0-9]+)?$"


def _xml_unescape(c: Column) -> Column:
    """The five predefined XML entities, ``&amp;`` decoded LAST (so
    ``&amp;lt;`` round-trips to ``&lt;``, not ``<``)."""
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&apos;", "'"),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def _xml_blocks(xml: Column, pat: str, kind: str) -> Column:
    """Every match of ``pat`` in ``xml`` as a (kind, b) struct."""
    return F.transform(
        F.regexp_extract_all(xml, F.lit(pat), 0),
        lambda b: F.struct(F.lit(kind).alias("kind"), b.alias("b")),
    )


def sitemap_entries(
    maps: DataFrame, url_col: str = "sitemap_url", xml_col: str = "xml"
) -> DataFrame:
    """Parse sitemap XML (sitemaps.org protocol, documented subset: plain
    ``<loc>`` text — no CDATA; the five predefined entities decoded;
    ``<priority>`` as exact integer milli-units, NULL when absent or
    malformed, fractional digits beyond 3 truncated; ``<lastmod>`` kept as
    the raw W3C-datetime string, '' when absent) into one row per child:
    ``kind='url'`` for ``<urlset>`` entries, ``kind='sitemap'`` for
    ``<sitemapindex>`` entries — the discovery loop's recursion signal
    (feed those locs back through the fetcher into this same operator).

    Scale shape: one narrow pass of regexp/array expressions over the
    sitemap corpus, one explode; no shuffle, no Python. Together with
    :func:`robots_sitemaps` (where the sitemap URLs come from) and
    :func:`robots_gate` (whether the discovered URLs may be fetched) this
    closes the crawl-discovery loop. Returns (sitemap_url, kind, loc,
    lastmod, priority_milli)."""
    xml = F.coalesce(F.col(xml_col), F.lit(""))

    allb = F.concat(
        _xml_blocks(xml, _SM_URL_BLOCK_RE, "url"),
        _xml_blocks(xml, _SM_SMAP_BLOCK_RE, "sitemap"),
    )
    rows = maps.select(
        F.col(url_col).alias("sitemap_url"), F.explode(allb).alias("e")
    )
    b = F.col("e.b")
    loc = _xml_unescape(F.regexp_extract(b, _SM_LOC_RE, 1))
    prio = F.regexp_extract(b, _SM_PRIO_RE, 1)
    frac3 = F.rpad(
        F.substring(F.regexp_extract(prio, r"\.([0-9]+)$", 1), 1, 3), 3, "0"
    )
    prio_milli = F.when(
        prio.rlike(_PRIO_VALID_RE),
        F.regexp_extract(prio, r"^([01])", 1).cast("long") * 1000
        + frac3.cast("long"),
    ).cast("long")
    return rows.select(
        "sitemap_url",
        F.col("e.kind").alias("kind"),
        loc.alias("loc"),
        F.regexp_extract(b, _SM_LASTMOD_RE, 1).alias("lastmod"),
        prio_milli.alias("priority_milli"),
    ).filter(F.col("loc") != "")


_FEED_ITEM_RE = r"(?is)<item\b[^>]*>.*?</item>"
_FEED_ENTRY_RE = r"(?is)<entry\b[^>]*>.*?</entry>"
_RSS_LINK_RE = r"(?is)<link\s*>\s*(.*?)\s*</link>"
_FEED_TITLE_RE = r"(?is)<title\b[^>]*>\s*(.*?)\s*</title>"
_RSS_PUBDATE_RE = r"(?is)<pubdate\s*>\s*(.*?)\s*</pubdate>"
_ATOM_UPDATED_RE = r"(?is)<updated\s*>\s*(.*?)\s*</updated>"
_LINK_TAG_RE = r"(?i)<link\b[^>]*>"
_REL_ATTR_RE = r"""(?i)\brel\s*=\s*["']?([a-zA-Z-]+)"""


def _attr(tag: Column, dq_re: str, sq_re: str) -> Column:
    """Attribute value out of a single tag, both quote styles (the
    canonical-link convention at :func:`page_directives`)."""
    dq = F.regexp_extract(tag, dq_re, 1)
    sq = F.regexp_extract(tag, sq_re, 1)
    return F.when(dq != "", dq).otherwise(sq)


def tag_attr(tag: Column, name: str) -> Column:
    """``name="..."`` / ``name='...'`` attribute value out of one tag —
    the shared subset every head-scanning operator uses (attribute order
    free, both quote styles, '' when absent)."""
    return _attr(
        tag,
        rf'(?i)\b{name}\s*=\s*"([^"]*)"',
        rf"(?i)\b{name}\s*=\s*'([^']*)'",
    )


#: Public alias — the five predefined XML entities, ``&amp;`` decoded last.
xml_unescape = _xml_unescape


def feed_entries(
    feeds: DataFrame, url_col: str = "feed_url", xml_col: str = "xml"
) -> DataFrame:
    """Parse web feeds — RSS 2.0 ``<item>`` and Atom ``<entry>`` children —
    into one row per entry: the OTHER half of crawl discovery next to
    :func:`sitemap_entries` (feeds surface new URLs faster than sitemaps;
    public crawlers poll both). Documented subset mirroring the sitemap
    parser: plain element text (no CDATA), the five predefined XML
    entities decoded in loc and title; RSS links are element text, Atom
    links are ``href`` attributes where the chosen ``<link>`` is the first
    with no ``rel`` or ``rel=alternate`` (the Atom RFC 4287 default);
    ``published`` is the raw ``<pubDate>`` (RSS) / ``<updated>`` (Atom)
    string, '' when absent. Entries without a resolvable link drop.

    Scale shape: one narrow pass of regexp/array expressions over the feed
    corpus, one explode; no shuffle, no Python — same class as
    :func:`sitemap_entries`, and its ``loc`` output feeds the same
    :func:`crawl_frontier` assembly. Returns (feed_url, kind, loc, title,
    published)."""
    xml = F.coalesce(F.col(xml_col), F.lit(""))

    allb = F.concat(
        _xml_blocks(xml, _FEED_ITEM_RE, "rss"), _xml_blocks(xml, _FEED_ENTRY_RE, "atom")
    )
    rows = feeds.select(
        F.col(url_col).alias("feed_url"), F.explode(allb).alias("e")
    )
    b = F.col("e.b")
    atom_link = F.get(
        F.filter(
            F.regexp_extract_all(b, F.lit(_LINK_TAG_RE), 0),
            lambda t: (F.regexp_extract(t, _REL_ATTR_RE, 1) == "")
            | (F.lower(F.regexp_extract(t, _REL_ATTR_RE, 1)) == "alternate"),
        ),
        F.lit(0),
    )
    loc = F.when(
        F.col("e.kind") == "rss", F.regexp_extract(b, _RSS_LINK_RE, 1)
    ).otherwise(
        py_strip(F.coalesce(_attr(atom_link, _HREF_DQ_RE, _HREF_SQ_RE), F.lit("")))
    )
    published = F.when(
        F.col("e.kind") == "rss", F.regexp_extract(b, _RSS_PUBDATE_RE, 1)
    ).otherwise(F.regexp_extract(b, _ATOM_UPDATED_RE, 1))
    return rows.select(
        "feed_url",
        F.col("e.kind").alias("kind"),
        _xml_unescape(loc).alias("loc"),
        _xml_unescape(F.regexp_extract(b, _FEED_TITLE_RE, 1)).alias("title"),
        published.alias("published"),
    ).filter(F.col("loc") != "")


#: month-name prefix → two-digit month, shared by the Spark chain and the
#: DuckDB oracle generator (entry_queries builds its CASE from this dict)
WEB_DATE_MONTHS = {
    "jan": "01", "feb": "02", "mar": "03", "apr": "04", "may": "05",
    "jun": "06", "jul": "07", "aug": "08", "sep": "09", "oct": "10",
    "nov": "11", "dec": "12",
}

_ISO_DATE_RE = r"^(\d{4})-(\d{2})-(\d{2})"
_RFC_DATE_RE = r"(?i)\b(\d{1,2})\s+(jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)[a-z]*\s+(\d{4})"
_US_DATE_RE = r"(?i)\b(jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)[a-z]*\s+(\d{1,2}),?\s+(\d{4})"


def _month_num(name: Column) -> Column:
    out = None
    for pre, num in WEB_DATE_MONTHS.items():
        cond = F.lower(name) == pre
        out = F.when(cond, F.lit(num)) if out is None else out.when(cond, F.lit(num))
    return out.otherwise(F.lit(""))


def web_date_iso(col: Column) -> Column:
    """Normalize the date strings the crawl surfaces hand back —
    ``<meta article:published_time>`` / ``<time datetime>`` ISO 8601,
    RFC 822/1123 ``pubDate`` ('Mon, 02 Jan 2026 03:04:05 GMT'), and the
    journalistic 'January 2, 2026' — to one canonical ``YYYY-MM-DD``
    string ('' when unrecognized or out of range). String-level, timezone
    untouched (day-boundary shifting belongs to a downstream policy, not
    a parser); month 01-12 / day 01-31 range-checked. Pure expressions
    with an exact DuckDB twin — the freshness key for crawl scheduling
    and corpus recency mixes."""
    s = py_strip(F.coalesce(col, F.lit("")))

    def ok(m: Column, d: Column) -> Column:
        # try_cast: '' must yield NULL (→ false), never an ANSI cast error
        mi = m.try_cast("int")
        di = d.try_cast("int")
        return (mi >= 1) & (mi <= 12) & (di >= 1) & (di <= 31)

    iso_y = F.regexp_extract(s, _ISO_DATE_RE, 1)
    iso_m = F.regexp_extract(s, _ISO_DATE_RE, 2)
    iso_d = F.regexp_extract(s, _ISO_DATE_RE, 3)
    rfc_d = F.regexp_extract(s, _RFC_DATE_RE, 1)
    rfc_m = _month_num(F.regexp_extract(s, _RFC_DATE_RE, 2))
    rfc_y = F.regexp_extract(s, _RFC_DATE_RE, 3)
    us_m = _month_num(F.regexp_extract(s, _US_DATE_RE, 1))
    us_d = F.regexp_extract(s, _US_DATE_RE, 2)
    us_y = F.regexp_extract(s, _US_DATE_RE, 3)
    pad2 = lambda d: F.lpad(d, 2, "0")
    return (
        F.when(
            (iso_y != "") & ok(iso_m, iso_d),
            F.concat_ws("-", iso_y, iso_m, iso_d),
        )
        .when(
            (rfc_y != "") & ok(rfc_m, rfc_d),
            F.concat_ws("-", rfc_y, rfc_m, pad2(rfc_d)),
        )
        .when(
            (us_y != "") & ok(us_m, us_d),
            F.concat_ws("-", us_y, us_m, pad2(us_d)),
        )
        .otherwise(F.lit(""))
    )


_TYPE_DQ_RE = r'(?i)\btype\s*=\s*"([^"]*)"'
_TYPE_SQ_RE = r"(?i)\btype\s*=\s*'([^']*)'"
_FEED_TYPE_RE = r"(?i)^application/(rss|atom)\+xml$"


def feed_links(
    docs: DataFrame,
    base_col: str = "base_uri",
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feed auto-discovery (the RSS/Atom autodiscovery convention): every
    ``<link>`` tag whose ``type`` is ``application/rss+xml`` or
    ``application/atom+xml`` and whose ``rel`` includes ``alternate``,
    href resolved against the page base with the same RFC-subset resolver
    as :func:`extract_links`. The output is the fetch list whose bodies
    flow into :func:`feed_entries`.

    One narrow pass, one explode, no shuffle. Returns (doc_id, feed_url,
    feed_type) with feed_type in ('rss', 'atom')."""
    html = F.coalesce(F.col(html_col), F.lit(""))
    base = F.coalesce(F.col(base_col), F.lit(""))
    scheme, host, dirp = _base_parts(base)
    tags = F.filter(
        F.regexp_extract_all(html, F.lit(_LINK_TAG_RE), 0),
        lambda t: _attr(t, _TYPE_DQ_RE, _TYPE_SQ_RE).rlike(_FEED_TYPE_RE)
        & F.lower(F.regexp_extract(t, _REL_ATTR_RE, 1)).rlike(r"^alternate$"),
    )
    rows = docs.select(
        F.col(id_col).alias("doc_id"),
        scheme.alias("_s"),
        host.alias("_h"),
        dirp.alias("_d"),
        F.explode(tags).alias("t"),
    )
    href = py_strip(_attr(F.col("t"), _HREF_DQ_RE, _HREF_SQ_RE))
    url = _resolve(href, F.col("_s"), F.col("_h"), F.col("_d"))
    ftype = F.lower(
        F.regexp_extract(_attr(F.col("t"), _TYPE_DQ_RE, _TYPE_SQ_RE), _FEED_TYPE_RE, 1)
    )
    return (
        rows.select(
            "doc_id", url.alias("feed_url"), ftype.alias("feed_type")
        )
        .filter(F.col("feed_url") != "")
    )


def crawl_frontier(
    entries: DataFrame,
    rules: DataFrame,
    seen: DataFrame,
    k: int = 2,
) -> DataFrame:
    """Assemble a fetch frontier from discovered URLs — the composition
    that closes the crawl loop: :func:`sitemap_entries` ``kind='url'``
    rows collapse to one row per distinct loc keeping the STRONGEST
    priority hint (max over the sitemaps that list it), pass through
    :func:`robots_gate` (disallowed URLs never enter the frontier), drop
    everything in ``seen`` (one ``url`` column — the already-fetched set;
    the Bloom variant of this membership test is ``dedup.bloom_probe``),
    then rank per host by (priority desc NULLS LAST, url asc) and keep the
    top ``k`` — per-host caps are how a polite crawler bounds burst load.

    Scale shape: loc dedup and the per-host rank shuffle on url/host (the
    frontier is discovery-sized, not corpus-sized); the seen-set join is a
    plain anti join on url. Returns (host, url, priority_milli,
    fetch_rank)."""
    from pyspark.sql import Window

    urls = (
        entries.filter(
            (F.col("kind") == "url") & F.col("loc").rlike(r"^(?i)https?://")
        )
        .groupBy(F.col("loc").alias("url"))
        .agg(F.max("priority_milli").alias("priority_milli"))
    )
    gated = (
        robots_gate(urls.select(F.col("url").alias("u"), "url"), rules, id_col="u")
        .filter(F.col("allowed"))
        .select("url", "host")
    )
    fresh = (
        urls.join(gated, "url", "inner")
        .join(seen.select("url").distinct(), "url", "left_anti")
    )
    w = Window.partitionBy("host").orderBy(
        F.col("priority_milli").desc_nulls_last(), F.col("url").asc()
    )
    return (
        fresh.withColumn("fetch_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fetch_rank") <= k)
        .select("host", "url", "priority_milli", "fetch_rank")
    )


def frontier_schedule(
    frontier: DataFrame,
    delays: DataFrame,
    default_millis: int = 1000,
) -> DataFrame:
    """Turn a ranked frontier (:func:`crawl_frontier`) into a per-host
    fetch TIMELINE by applying :func:`robots_crawl_delay` politeness:
    ``fetch_at_millis = (fetch_rank - 1) × delay`` where delay is the
    host's Crawl-delay or ``default_millis`` when the host declares none
    (NULL row or absent host). This is the last step of the discovery
    loop — what the fetcher actually consumes.

    Scale shape: one LEFT JOIN on host between the discovery-sized
    frontier and the host-cardinality delay table (AQE broadcasts the
    small side at any realistic scale). Returns (host, url, fetch_rank,
    delay_millis, fetch_at_millis) with delay_millis the EFFECTIVE delay
    (default substituted)."""
    eff = F.coalesce(F.col("delay_millis"), F.lit(default_millis)).cast("long")
    return (
        frontier.join(delays, "host", "left")
        .select(
            "host",
            "url",
            "fetch_rank",
            eff.alias("delay_millis"),
            ((F.col("fetch_rank") - 1) * eff).cast("long").alias(
                "fetch_at_millis"
            ),
        )
    )


def host_edges(links: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links) host-level link graph from
    :func:`extract_links` output — one aggregation, map-side combined;
    feeds ``graph.pagerank(edges, src_col='src_host',
    dst_col='dst_host')`` for link-based host ranking."""
    return links.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).cast("long").alias("n_links")
    )


def ranked_hosts(edges: DataFrame, n_iters: int = 3) -> DataFrame:
    """Link-based host ranking end-to-end: hosts map through xxhash64
    surrogates (pagerank's integer-id contract; collision odds are
    negligible at any real host count), rank over the edge table, then the
    host names join back → (host, rank_units)."""
    from ocr_spark.operators.graph import pagerank

    e = edges.select(
        F.xxhash64("src_host").alias("src"), F.xxhash64("dst_host").alias("dst")
    )
    names = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .select(F.xxhash64("host").alias("node"), "host")
    )
    return pagerank(e, n_iters=n_iters).join(names, "node").select(
        "host", "rank_units"
    )


def anchor_texts(links: DataFrame, k: int = 3) -> DataFrame:
    """Anchor-text corpus (the classic link-based relevance signal — anchor
    strings describe the TARGET page better than its own boilerplate): the
    top-``k`` distinct anchor strings per destination host, ranked by link
    count with a deterministic (count desc, anchor asc) tie-break.

    Plan: (dst_host, anchor) counts pre-aggregate map-side (the Zipf head
    of repeated nav anchors collapses before the shuffle), then one
    window rank per host — two shuffles total, both on dst_host-rooted
    keys. Output: (dst_host, anchor, n_links, rank)."""
    counts = (
        links.filter(py_strip(F.col("anchor")) != "")
        .groupBy("dst_host", "anchor")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("dst_host").orderBy(
        F.col("n_links").desc(), F.col("anchor").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def host_stats(edges: DataFrame) -> DataFrame:
    """Per-host degree audit over the host graph — the spam-shape signals
    link-based curation keys on (link farms: huge out-degree, tiny
    in-degree; parked clusters: reciprocal self-links): out_hosts /
    in_hosts (distinct neighbours), out_links / in_links (edge weights),
    and self_links.

    Plan: two aggregations over the (already host-level, so tiny relative
    to the corpus) edge table, full-outer-joined on host — no corpus
    access at all."""
    out = edges.groupBy(F.col("src_host").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("out_hosts"),
        F.sum("n_links").cast("long").alias("out_links"),
        F.sum(F.when(F.col("src_host") == F.col("dst_host"), F.col("n_links")).otherwise(F.lit(0)))
        .cast("long")
        .alias("self_links"),
    )
    inn = edges.groupBy(F.col("dst_host").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("in_hosts"),
        F.sum("n_links").cast("long").alias("in_links"),
    )
    return out.join(inn, "host", "full_outer").select(
        "host",
        F.coalesce(F.col("out_hosts"), F.lit(0)).cast("long").alias("out_hosts"),
        F.coalesce(F.col("out_links"), F.lit(0)).cast("long").alias("out_links"),
        F.coalesce(F.col("in_hosts"), F.lit(0)).cast("long").alias("in_hosts"),
        F.coalesce(F.col("in_links"), F.lit(0)).cast("long").alias("in_links"),
        F.coalesce(F.col("self_links"), F.lit(0)).cast("long").alias("self_links"),
    )


def crawl_diff(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two crawl drops keyed on the (canonical) URL:
    per page, 'added' / 'removed' / 'changed' / 'unchanged' by content
    digest — the incremental-recrawl planner's input (recrawl cadence keys
    on change rate, frontier GC keys on removals).

    Plan: digests compute MAP-SIDE (md5 of the body before any shuffle, so
    page bytes move zero times), then one groupBy per drop on the url key
    (min-digest canonicalizes within-drop URL repeats deterministically;
    partial agg) and a co-partitioned full outer join of the two digest
    tables — at crawl scale both sides are (url, 32-byte md5) rows, not
    documents. Returns (url, status, old_md5, new_md5)."""
    o = old.groupBy(F.col(url_col).alias("url")).agg(
        F.min(F.md5(F.coalesce(F.col(text_col), F.lit("")))).alias("old_md5")
    )
    n = new.groupBy(F.col(url_col).alias("url")).agg(
        F.min(F.md5(F.coalesce(F.col(text_col), F.lit("")))).alias("new_md5")
    )
    status = (
        F.when(F.col("old_md5").isNull(), F.lit("added"))
        .when(F.col("new_md5").isNull(), F.lit("removed"))
        .when(F.col("old_md5") == F.col("new_md5"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, "url", "full_outer").select(
        "url", status.alias("status"), "old_md5", "new_md5"
    )


# --- paginated-article stitching ----------------------------------------------

# page-number indicators (documented subset): a `page`/`p`/`pg` query
# parameter, or a `/page/N` path segment. Page 1 of a series usually has the
# BARE url (no indicator at all) — the series key is the url with the
# indicator removed, so page 1 and `?page=2` land in the same group.
_PAGE_PARAM_RE = r"(?i)[?&](?:page|p|pg)=([0-9]+)"
_PAGE_PATH_RE = r"(?i)/page/([0-9]+)"
_PAGE_PARAM_STRIP_RE = r"(?i)[?&](?:page|p|pg)=[0-9]+"
_PAGE_PATH_STRIP_RE = r"(?i)/page/[0-9]+"


def page_series_key(url: Column) -> tuple[Column, Column]:
    """(series_key, page_no) for a page url. The key strips the page
    indicator and any dangling '?'/'&' it leaves behind; page_no defaults
    to 1 when no indicator is present. Documented subset: when the page
    indicator is a query parameter it is the LAST parameter (real
    pipelines canonicalize with url_canonicalize first, which sorts
    parameters — 'page' sorts after most tracking params it coexists
    with)."""
    u = F.coalesce(url, F.lit(""))
    p_param = F.regexp_extract(u, _PAGE_PARAM_RE, 1)
    p_path = F.regexp_extract(u, _PAGE_PATH_RE, 1)
    page_no = (
        F.when(p_param != "", p_param.cast("int"))
        .when(p_path != "", p_path.cast("int"))
        .otherwise(F.lit(1))
    )
    key = F.regexp_replace(
        F.regexp_replace(u, _PAGE_PARAM_STRIP_RE, ""), _PAGE_PATH_STRIP_RE, ""
    )
    key = F.regexp_replace(key, r"[?&]$", "")
    return key, page_no


def stitch_paginated(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reassemble multi-page articles into one document per series:
    (series_key, root_doc_id, n_parts, first_page, last_page, full_text).
    root_doc_id is the doc of the lowest page number; full_text joins the
    parts in page order with newlines; a missing middle page stitches the
    remaining parts in order (crawls are never complete); duplicate
    fetches of the same page number keep the lowest doc_id
    deterministically.

    Plan shape: page_no/series_key compute map-side, then TWO keyed
    aggregations — groupBy(series, page_no) first (min_by dedups repeat
    fetches with partial agg, so a hammered page number never builds a
    big group), then groupBy(series) with sort_array over the few parts.
    Skew is bounded by the longest real article (tens of pages), not by
    fetch multiplicity."""
    key, page_no = page_series_key(F.col(url_col))
    p0 = pages.select(
        key.alias("series_key"),
        page_no.alias("page_no"),
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("text"),
    )
    p1 = p0.groupBy("series_key", "page_no").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("text", "doc_id").alias("text"),
    )
    parts = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("page_no").alias("page_no"),
                F.col("doc_id").alias("doc_id"),
                F.col("text").alias("text"),
            )
        )
    )
    p2 = p1.groupBy("series_key").agg(parts.alias("parts"))
    return p2.select(
        "series_key",
        F.element_at("parts", 1)["doc_id"].alias("root_doc_id"),
        F.size("parts").cast("long").alias("n_parts"),
        F.element_at("parts", 1)["page_no"].cast("long").alias("first_page"),
        F.element_at("parts", -1)["page_no"].cast("long").alias("last_page"),
        F.array_join(
            F.filter(
                F.transform(F.col("parts"), lambda s: s["text"]),
                lambda t: t != "",
            ),
            "\n",
        ).alias("full_text"),
    )
