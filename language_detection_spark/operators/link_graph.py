"""Web link-graph analytics: outlink extraction, domain degree stats,
and integer-exact PageRank.

Public technique: link-based quality signals are a standard web-corpus
curation input — OPIC/PageRank-style centrality drives crawl
prioritization (Cho et al. 1998; Abiteboul et al. 2003) and domain-level
in/out-degree statistics feed spam heuristics (e.g. link farms have
pathological out-degree and reciprocity).  This module extracts the
outlink graph from raw html with pure string expressions, aggregates it
to a domain graph, and runs a fixed-iteration PageRank.

Reference anchor: the crawl-document shape (url + html) is the
reference pipeline's nutch-filter input (`SURVEY.md` S9 crawl sink);
domain parsing reuses :mod:`.url_filter`'s eTLD+1 grammar.

Cross-engine exactness discipline: PageRank is computed ENTIRELY in
integer arithmetic over pico-units (total mass = 10^12): per-edge
shares, the damping multiply, and the teleport term all use exact
floor division, so every iteration's vector is a deterministic BIGINT
— independent of partitioning, summation order, and engine.  (The
usual float formulation drifts across engines by ULPs; this one is
bit-stable and its deviation from the real-valued fixpoint is bounded
by n_nodes pico-units per iteration.)

Scale shape (100 TB): extraction is regexp_extract_all + explode
(single pass, codegen); the domain graph is a partial-agg groupBy
(domains are Zipf-skewed, but counts combine map-side).  PageRank runs in
one task on graphs that fit one; past that each iteration is one shuffle
join (ranks × edges keyed by src) + one partial-agg groupBy (dst) + a
1-row dangling aggregate broadcast back — the Pregel schedule as
DataFrames, localCheckpoint cutting the lineage every iteration.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.repartition import one_task_or_distributed
from .url_filter import registered_domain, url_host

#: Total PageRank mass in pico-units (10^12), so per-node ranks keep
#: ~6 significant digits even across a billion domains.
PR_SCALE = 1_000_000_000_000
#: Damping 0.85 as the exact rational 17/20.
PR_DAMP_NUM, PR_DAMP_DEN = 17, 20
PR_ITERATIONS = 8

_HREF_RE = r'href="(https?://[^"]+)"'


def _idiv(a: Column, b: Column) -> Column:
    """Exact integer floor-division for non-negative BIGINDs (numerator
    is made exactly divisible first, so the double division is exact)."""
    a = a.cast("bigint")
    return ((a - F.pmod(a, b)) / b).cast("bigint")


def extract_outlinks(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src_url, dst_url, src_domain, dst_domain) — one row per absolute
    http(s) href in the page.  Relative links are intentionally skipped
    (they never leave the domain, so the domain graph ignores them)."""
    html_str = F.col(html_col).cast("string")
    links = F.regexp_extract_all(html_str, F.lit(_HREF_RE), 1)
    out = pages.select(
        F.col(url_col).alias("src_url"),
        F.explode(links).alias("dst_url"),
    )
    return out.select(
        "src_url",
        "dst_url",
        registered_domain(url_host(F.col("src_url"))).alias("src_domain"),
        registered_domain(url_host(F.col("dst_url"))).alias("dst_domain"),
    )


def domain_link_stats(outlinks: DataFrame) -> DataFrame:
    """Per-domain degree statistics over the outlink table:
    (domain, out_links, in_links, out_domains, in_domains)."""
    out = outlinks.groupBy(F.col("src_domain").alias("domain")).agg(
        F.count(F.lit(1)).cast("bigint").alias("out_links"),
        F.countDistinct("dst_domain").cast("bigint").alias("out_domains"),
    )
    inn = outlinks.groupBy(F.col("dst_domain").alias("domain")).agg(
        F.count(F.lit(1)).cast("bigint").alias("in_links"),
        F.countDistinct("src_domain").cast("bigint").alias("in_domains"),
    )
    return (
        out.join(inn, "domain", "outer")
        .select(
            "domain",
            F.coalesce("out_links", F.lit(0)).cast("bigint").alias("out_links"),
            F.coalesce("in_links", F.lit(0)).cast("bigint").alias("in_links"),
            F.coalesce("out_domains", F.lit(0))
            .cast("bigint")
            .alias("out_domains"),
            F.coalesce("in_domains", F.lit(0))
            .cast("bigint")
            .alias("in_domains"),
        )
    )


def _pagerank_local_task(e: DataFrame, n_iter: int) -> DataFrame:
    """The identical integer-exact PageRank recurrence over a bounded
    edge list inside ONE executor task (numpy int64; floor division on
    non-negative BIGINT-range values — bit-identical to the distributed
    loop, pinned by ``test_pagerank_engines_agree``).  One Spark job
    instead of ~3 jobs per damped iteration."""

    def _pr(batches):
        import numpy as np

        srcs: list[str] = []
        dsts: list[str] = []
        for pdf in batches:
            srcs.extend(pdf["src"])
            dsts.extend(pdf["dst"])
        names = sorted(set(srcs) | set(dsts))
        if not names:  # empty graph: no nodes, no ranks
            return
        ix = {d: i for i, d in enumerate(names)}
        n = len(names)
        si = np.fromiter((ix[s] for s in srcs), dtype=np.int64,
                         count=len(srcs))
        di = np.fromiter((ix[d] for d in dsts), dtype=np.int64,
                         count=len(dsts))
        deg = np.bincount(si, minlength=n).astype(np.int64)
        init = PR_SCALE // n
        teleport = (PR_DAMP_DEN - PR_DAMP_NUM) * init // PR_DAMP_DEN
        ranks = np.full(n, init, dtype=np.int64)
        dangling_nodes = deg == 0
        for _ in range(n_iter):
            mass = int(ranks[dangling_nodes].sum())
            shares = ranks[si] // deg[si]
            contrib = np.zeros(n, dtype=np.int64)
            np.add.at(contrib, di, shares)
            ranks = teleport + PR_DAMP_NUM * (contrib + mass // n) // PR_DAMP_DEN
        yield pd.DataFrame(
            {"domain": names, "rank_pico": pd.array(ranks, dtype="int64")}
        )

    return e.coalesce(1).mapInPandas(_pr, "domain string, rank_pico bigint")


_LOCAL_EDGES_MAX = 5_000_000  # pagerank_domains' one-task bound


def pagerank_domains(edges: DataFrame, n_iter: int = PR_ITERATIONS) -> DataFrame:
    """Integer-exact PageRank over distinct (src_domain, dst_domain)
    edges → (domain, rank_pico BIGINT).

    Per iteration, with n = |nodes| and D = floor(dangling_mass / n):

        r'(v) = floor(3 * floor(PR_SCALE / n) / 20)
              + floor(17 * (sum_{u->v} floor(r(u) / outdeg(u)) + D) / 20)

    Iterative, so it runs jobs while built (``one_task_or_distributed``):
    one task up to ``_LOCAL_EDGES_MAX`` edges, else a shuffle-join loop;
    both integer-exact, so bit-identical.  An empty graph has no ranks.
    """
    e = edges.select(
        F.col(edges.columns[0]).alias("src"),
        F.col(edges.columns[1]).alias("dst"),
    ).distinct()
    return one_task_or_distributed(
        e, _LOCAL_EDGES_MAX,
        lambda e: _pagerank_local_task(e, n_iter),
        lambda e: _pagerank_loop(e, n_iter),
    )


def _pagerank_loop(e: DataFrame, n_iter: int) -> DataFrame:
    nodes = (
        e.select(F.col("src").alias("domain"))
        .unionAll(e.select(F.col("dst").alias("domain")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    outdeg = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    ).localCheckpoint(eager=True)
    init = PR_SCALE // n
    teleport = (PR_DAMP_DEN - PR_DAMP_NUM) * init // PR_DAMP_DEN
    ranks = nodes.select(
        "domain", F.lit(init).cast("bigint").alias("rank_pico")
    ).localCheckpoint(eager=True)
    for _ in range(n_iter):
        with_deg = ranks.join(
            outdeg, ranks["domain"] == outdeg["src"], "left"
        ).select(ranks["domain"], "rank_pico", "deg")
        dangling = with_deg.agg(
            F.coalesce(
                F.sum(F.when(F.col("deg").isNull(), F.col("rank_pico"))), F.lit(0)
            )
            .cast("bigint")
            .alias("mass")
        )
        contrib = (
            e.join(with_deg.where(F.col("deg").isNotNull()),
                   e["src"] == with_deg["domain"])
            .select(
                F.col("dst").alias("domain"),
                _idiv(F.col("rank_pico"), F.col("deg")).alias("share"),
            )
            .groupBy("domain")
            .agg(F.sum("share").cast("bigint").alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, "domain", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "domain",
                (
                    F.lit(teleport)
                    + _idiv(
                        PR_DAMP_NUM
                        * (
                            F.coalesce(F.col("contrib"), F.lit(0))
                            + _idiv(F.col("mass"), F.lit(n))
                        ),
                        F.lit(PR_DAMP_DEN),
                    )
                )
                .cast("bigint")
                .alias("rank_pico"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def synth_linked_pages(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic link-bearing html fixture from ``doc_id``: each
    page lives on one of 13 'site' domains and links to two other sites
    (rotating shift patterns), to one of 3 'hub' domains (which never
    appear as sources → dangling PageRank mass), plus a relative link
    and a plain-text decoy URL that extraction must ignore.  Both
    engines re-derive the identical construction."""
    doc_id = F.col(id_col)
    site = F.pmod(doc_id, F.lit(13)).cast("string")
    d1 = F.pmod(doc_id * 3 + 1, F.lit(13)).cast("string")
    d2 = F.pmod(doc_id * 5 + 2, F.lit(13)).cast("string")
    hub = F.pmod(doc_id, F.lit(3)).cast("string")
    page = F.pmod(doc_id, F.lit(40)).cast("string")
    url = F.concat(
        F.lit("https://www.site-"), site, F.lit(".com/p/"), page
    )
    html = F.concat(
        F.lit('<html><body><a href="/local">rel</a>'
              '<p>see https://decoy-7.com/x in text</p>'
              '<a href="https://site-'),
        d1,
        F.lit('.com/p/'),
        page,
        F.lit('">a</a><a href="https://m.site-'),
        d2,
        F.lit('.com/q/'),
        page,
        F.lit('">b</a><a href="https://hub-'),
        hub,
        F.lit('.net/">h</a></body></html>'),
    )
    return df.select(doc_id.alias("doc_id"), url.alias("url"), html.alias("html"))
