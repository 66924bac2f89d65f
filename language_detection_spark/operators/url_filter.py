"""URL-level filtering: blocklist + soft keyword scoring + resource gate.

Public technique: RefinedWeb (Penedo et al. 2023, §3.1 "URL filtering")
filters CommonCrawl documents BEFORE fetching/parsing any content,
using (1) a curated domain blocklist (the UT1 adult list, ~4.6M
domains), (2) a soft word-score over the URL string itself, with words
weighted by severity, and (3) rejection of non-text resources by file
extension.  It is the cheapest gate in a webtext pipeline — string
expressions over the one column every crawl record already has — so it
runs first, upstream of the HTML extraction in :mod:`..sources.pages`
and the line/document-level filters.

Reference anchor: the keep/drop + named-reason-column shape mirrors the
reference pipeline's per-document rule chain (`operators/quality.py`
rule_columns, itself anchored on the nutch-plugin filter role described
in the reference README); URL parsing reuses the exact host/path/query
grammar of :func:`..operators.text_analysis.canonical_url`
(RFC 3986 via regexp_extract).

Scale shape (100 TB): the score and extension gates are pure
whole-stage-codegen string expressions — zero shuffle, zero Python.
The blocklist is a (domain) dim table joined on registered_domain:
Catalyst broadcasts it while it is small (UT1 is ~100 MB — still
broadcastable); at larger sizes AQE falls back to a shuffle join keyed
by domain, which is uniformly distributed by construction.  Nothing
reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.repartition import literal_frame

#: Presence-based keyword weights in milli-units, RefinedWeb's
#: severity tiers: hard words (1000 = instant fail at the default
#: threshold) and soft words (500/330 — need two/three co-occurring).
#: Matched as substrings of the whole lowercased URL, each word counted
#: once.  The list is a small representative stand-in for the public
#: UT1-derived vocabulary; callers supply their own for production.
URL_WORD_WEIGHTS: dict[str, int] = {
    "xxx": 1000,
    "porn": 1000,
    "escort": 1000,
    "viagra": 1000,
    "casino": 500,
    "poker": 500,
    "lottery": 500,
    "betting": 500,
    "webcam": 500,
    "torrent": 500,
    "pharmacy": 330,
    "dating": 330,
}

#: Path extensions that are never text documents (assets, archives,
#: executables).  The crawl should skip these before fetching.
RESOURCE_EXTENSIONS = (
    ".css", ".js", ".png", ".jpg", ".jpeg", ".gif", ".ico", ".svg",
    ".exe", ".zip", ".gz", ".tar", ".mp3", ".mp4", ".woff", ".ttf",
)

#: Default keep threshold: one hard word, two soft words, or three
#: weak words trip it.
DEFAULT_SCORE_THRESHOLD_MILLI = 1000

_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"


def url_host(url: Column) -> Column:
    """Lowercased host (no port) of an absolute URL; '' if unparseable."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


def registered_domain(host: Column) -> Column:
    """Last two dot-labels of the host — the eTLD+1 approximation the
    blocklist is keyed by (a public-suffix table slots in here for
    multi-label suffixes like co.uk; documented approximation)."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    return F.when(n <= 2, host).otherwise(
        F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    )


def url_word_score_milli(url: Column) -> Column:
    """Presence-weighted keyword score over the lowercased URL."""
    lo = F.lower(url)
    score = F.lit(0)
    for word, weight in sorted(URL_WORD_WEIGHTS.items()):
        score = score + F.when(lo.contains(word), weight).otherwise(0)
    return score.cast("bigint")


def is_resource_url(path: Column) -> Column:
    """True when the URL path names a non-text asset by extension."""
    lo = F.lower(path)
    pred = F.lit(False)
    for ext in RESOURCE_EXTENSIONS:
        pred = pred | lo.endswith(ext)
    return pred


def url_filter(
    df: DataFrame,
    blocklist: DataFrame | None = None,
    url_col: str = "url",
    id_col: str = "doc_id",
    threshold_milli: int = DEFAULT_SCORE_THRESHOLD_MILLI,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """RefinedWeb-style URL gate.

    ``blocklist`` is a 1-column ``(domain)`` DataFrame of banned
    registered domains (or None for scoring-only).  Output per row:
    ``(doc_id, url, host, registered_domain, blocked_domain,
    resource_url, url_score_milli, keep_url)`` — named reason columns
    so the audit can aggregate per-rule drop counts, the same contract
    as the document-level rule chain.  ``keep_cols`` names input
    columns passed through unchanged (lets pipeline compositions stay
    one map-side pass instead of re-joining on doc_id).
    """
    url = F.col(url_col)
    host = url_host(url)
    path = F.regexp_extract(url, _PATH_RE, 1)
    out = df.select(
        F.col(id_col).alias("doc_id"),
        url.alias("url"),
        host.alias("host"),
        registered_domain(host).alias("registered_domain"),
        is_resource_url(path).alias("resource_url"),
        url_word_score_milli(url).alias("url_score_milli"),
        *[F.col(c) for c in keep_cols],
    )
    if blocklist is not None:
        dim = blocklist.select(
            F.lower(F.col(blocklist.columns[0])).alias("registered_domain"),
            F.lit(True).alias("blocked_domain"),
        ).dropDuplicates(["registered_domain"])
        # no explicit broadcast hint: Catalyst/AQE broadcasts a small
        # blocklist on its own, and a UT1-scale (~4.6M-domain) list must
        # be allowed to fall back to a shuffle join instead of OOMing
        out = out.join(dim, "registered_domain", "left")
        out = out.withColumn(
            "blocked_domain", F.coalesce(F.col("blocked_domain"), F.lit(False))
        )
    else:
        out = out.withColumn("blocked_domain", F.lit(False))
    return out.select(
        "doc_id",
        "url",
        "host",
        "registered_domain",
        "blocked_domain",
        "resource_url",
        "url_score_milli",
        (
            ~F.col("blocked_domain")
            & ~F.col("resource_url")
            & (F.col("url_score_milli") < F.lit(threshold_milli))
        ).alias("keep_url"),
        *[F.col(c) for c in keep_cols],
    )


#: Attribute order in html is free — match both (name then content,
#: content then name).
_ROBOTS_META_RE = r'(?is)<meta[^>]*name="robots"[^>]*content="([^"]*)"'
_ROBOTS_META_RE2 = r'(?is)<meta[^>]*content="([^"]*)"[^>]*name="robots"'
_CANONICAL_LINK_RE = r'(?is)<link[^>]*rel="canonical"[^>]*href="([^"]*)"'


def page_directives(
    pages: DataFrame, id_col: str = "doc_id",
    url_col: str = "url", html_col: str = "html",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Crawl-policy directives a compliant corpus builder must honor
    (REP meta tags per RFC 9309 practice + rel=canonical): output
    ``(doc_id, url, noindex, nofollow, canonical_href, canonical_self,
    keep_page)``.

    * ``noindex`` pages must not enter the corpus (keep_page false).
    * ``nofollow`` pages contribute no outlinks (consumed by the link
      graph, reported here).
    * ``canonical_href`` ('' when absent) + ``canonical_self``: a page
      whose canonical points elsewhere is a duplicate by declaration —
      downstream dedup keys on the canonical target instead.

    Pure regexp/codegen expressions — zero shuffle, zero Python.
    """
    html_str = F.col(html_col).cast("string")
    r1 = F.regexp_extract(html_str, _ROBOTS_META_RE, 1)
    r2 = F.regexp_extract(html_str, _ROBOTS_META_RE2, 1)
    robots = F.lower(F.when(r1 != "", r1).otherwise(r2))
    canonical = F.regexp_extract(html_str, _CANONICAL_LINK_RE, 1)
    noindex = robots.contains("noindex")
    return pages.select(
        F.col(id_col).alias("doc_id"),
        F.col(url_col).alias("url"),
        noindex.alias("noindex"),
        robots.contains("nofollow").alias("nofollow"),
        canonical.alias("canonical_href"),
        ((canonical == "") | (canonical == F.col(url_col))).alias(
            "canonical_self"
        ),
        (~noindex).alias("keep_page"),
        *[F.col(c) for c in keep_cols],
    )


def synth_directive_pages(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic fixture: pages cycling through robots-meta
    variants (none / index,follow / noindex / nofollow /
    noindex,nofollow with swapped attribute order) and canonical-link
    variants (absent / self / elsewhere)."""
    doc_id = F.col(id_col)
    url = F.concat(
        F.lit("https://example.com/page/"),
        F.pmod(doc_id, F.lit(60)).cast("string"),
    )
    meta = robots_meta_expr(doc_id)
    c = F.pmod(doc_id, F.lit(3))
    link = (
        F.when(c == 0, F.lit(""))
        .when(c == 1, F.concat(F.lit('<link rel="canonical" href="'),
                               url, F.lit('">')))
        .otherwise(F.concat(
            F.lit('<link rel="canonical" href="https://example.com/page/'),
            F.pmod(doc_id, F.lit(7)).cast("string"), F.lit('">')))
    )
    html = F.concat(
        F.lit("<html><head>"), meta, link,
        F.lit("</head><body>content</body></html>"),
    )
    return df.select(
        doc_id.alias("doc_id"), url.alias("url"), html.alias("html")
    )


def robots_meta_expr(doc_id: Column) -> Column:
    """Robots-meta fixture expression cycling every variant (none /
    index,follow / NOINDEX / nofollow / noindex,nofollow with swapped
    attribute order) — shared by the directives fixture and the
    composed web-curation fixture so both oracles bake the identical
    literal construction."""
    m = F.pmod(doc_id, F.lit(5))
    return (
        F.when(m == 0, F.lit(""))
        .when(m == 1, F.lit('<meta name="robots" content="index,follow">'))
        .when(m == 2, F.lit('<meta name="robots" content="NOINDEX">'))
        .when(m == 3, F.lit('<meta name="robots" content="nofollow">'))
        .otherwise(
            F.lit('<meta content="noindex, nofollow" name="robots">')
        )
    )


def crawl_url_expr(doc_id: Column) -> Column:
    """Crawl-shaped fixture URL from ``doc_id`` alone — every url_filter
    rule exercised; shared by the URL-filter fixture and the composed
    web-curation fixture."""
    slot = F.pmod(doc_id, F.lit(23)).cast("string")
    tld = (
        F.when(F.pmod(doc_id, F.lit(3)) == 0, "com")
        .when(F.pmod(doc_id, F.lit(3)) == 1, "org")
        .otherwise("net")
    )
    h = F.pmod(doc_id, F.lit(7))
    host = (
        F.when(h == 0, F.concat(F.lit("www.news-"), slot, F.lit("."), tld))
        .when(h == 1, F.concat(F.lit("blog-"), slot, F.lit("."), tld))
        .when(h == 2, F.concat(F.lit("casino-"), slot, F.lit("."), tld))
        .when(h == 3, F.concat(F.lit("spam-mill."), tld))
        .when(h == 4, F.concat(F.lit("shop-"), slot, F.lit("."), tld))
        .when(h == 5, F.concat(F.lit("m.clickfarm."), tld))
        .otherwise(F.concat(F.lit("forum-"), slot, F.lit("."), tld))
    )
    p = F.pmod(doc_id, F.lit(6))
    path = (
        F.when(p == 0, F.concat(F.lit("/articles/"), slot))
        .when(p == 1, F.lit("/poker/review"))
        .when(p == 2, F.lit("/assets/logo.png"))
        .when(p == 3, F.lit("/download/setup.exe"))
        .when(p == 4, F.concat(F.lit("/docs/"), slot))
        .otherwise(F.lit("/xxx/gallery"))
    )
    q = F.pmod(doc_id, F.lit(5))
    query = (
        F.when(q == 0, F.lit("?ref=lottery&page=2"))
        .when(q == 1, F.lit("?utm_source=dating-pharmacy"))
        .otherwise(F.lit(""))
    )
    return F.concat(F.lit("https://"), host, path, query)


def synth_crawl_urls(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic crawl-shaped URL fixture from ``doc_id`` alone,
    exercising every rule: clean URLs, keyword hits in host / path /
    query at every severity tier, resource extensions, and blocklisted
    domains (the contract oracle re-derives the identical
    construction, same pattern as ``canonical_url_dups``)."""
    doc_id = F.col(id_col)
    return df.select(
        doc_id.alias("doc_id"),
        crawl_url_expr(doc_id).alias("url"),
    )


def synth_blocklist(spark: SparkSession) -> DataFrame:
    """The fixture blocklist matching two of the synth hosts."""
    return literal_frame(
        spark, [("spam-mill.com",), ("spam-mill.org",), ("spam-mill.net",),
                ("clickfarm.com",), ("clickfarm.org",), ("clickfarm.net",)],
        "domain string",
    )
