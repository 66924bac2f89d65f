"""Link-graph analytics: extraction rules, degree stats, and PageRank
vs a plain-Python arbiter implementing the documented integer spec."""

import pytest

from language_detection_spark.operators import link_graph
from language_detection_spark.operators.link_graph import (
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_SCALE,
    domain_link_stats,
    extract_outlinks,
    pagerank_domains,
    synth_linked_pages,
)


def local_pagerank(edges, n_iter=8):
    """Plain-Python arbiter of the exact integer recurrence."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    init = PR_SCALE // n
    teleport = (PR_DAMP_DEN - PR_DAMP_NUM) * init // PR_DAMP_DEN
    r = {v: init for v in nodes}
    for _ in range(n_iter):
        dangling = sum(r[v] for v in nodes if v not in outdeg)
        contrib = {v: 0 for v in nodes}
        for s, d in edges:
            contrib[d] += r[s] // outdeg[s]
        r = {
            v: teleport
            + PR_DAMP_NUM * (contrib[v] + dangling // n) // PR_DAMP_DEN
            for v in nodes
        }
    return r


@pytest.fixture(scope="module")
def outlinks(spark):
    pages = spark.createDataFrame(
        [
            (
                "https://www.a.com/1",
                '<x><a href="https://b.com/p">t</a>'
                '<a href="/rel">r</a>'
                '<a href="https://m.b.com/q">t</a>'
                "plain https://c.com/ text"
                '<a href="http://c.org/z">t</a></x>',
            ),
            ("https://b.com/2", '<a href="https://www.a.com/x">t</a>'),
            ("https://d.net/3", "<p>no links</p>"),
        ],
        "url string, html string",
    )
    return extract_outlinks(pages)


def test_extraction_rules(outlinks):
    rows = outlinks.collect()
    # relative link and plain-text URL skipped; 3 + 1 + 0 absolute hrefs
    assert len(rows) == 4
    assert {(r["src_domain"], r["dst_domain"]) for r in rows} == {
        ("a.com", "b.com"),
        ("a.com", "c.org"),
        ("b.com", "a.com"),
    }


def test_degree_stats(outlinks):
    stats = {r["domain"]: r for r in domain_link_stats(outlinks).collect()}
    a = stats["a.com"]
    # www.a.com and m.b.com fold into their registered domains
    assert (a["out_links"], a["out_domains"]) == (3, 2)
    assert (a["in_links"], a["in_domains"]) == (1, 1)
    b = stats["b.com"]
    assert (b["in_links"], b["in_domains"]) == (2, 1)
    assert stats["c.org"]["out_links"] == 0


def test_pagerank_matches_local_arbiter(spark):
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"),  # d has no in-links
        ("b", "e"),  # e is dangling
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["domain"]: r["rank_pico"]
        for r in pagerank_domains(df).collect()
    }
    assert got == local_pagerank(edges)
    # sanity: c (3 in-links) outranks d (0 in-links)
    assert got["c"] > got["d"]


def test_pagerank_mass_roughly_conserved(spark):
    edges = [("a", "b"), ("b", "a"), ("c", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    total = sum(
        r["rank_pico"] for r in pagerank_domains(df).collect()
    )
    # floor-division losses are bounded by ~n per division site
    assert abs(total - PR_SCALE) < 10_000


def test_synth_fixture_has_dangling_hubs(spark):
    pages = synth_linked_pages(
        spark.range(100).withColumnRenamed("id", "doc_id")
    )
    stats = {
        r["domain"]: r
        for r in domain_link_stats(extract_outlinks(pages)).collect()
    }
    hubs = [d for d in stats if d.startswith("hub-")]
    assert len(hubs) == 3
    assert all(stats[h]["out_links"] == 0 for h in hubs)
    # decoy never extracted
    assert "decoy-7.com" not in stats


def test_pagerank_engines_agree(spark, monkeypatch):
    """The single-task fast path (default at this scale) and the
    per-iteration shuffle-join loop (forced via _LOCAL_EDGES_MAX=0) are
    both integer-exact and must agree bit-for-bit with the arbiter."""
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("b", "e"), ("x", "x"),  # incl. a self-loop
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    fast = {r["domain"]: r["rank_pico"]
            for r in pagerank_domains(df).collect()}
    monkeypatch.setattr(link_graph, "_LOCAL_EDGES_MAX", 0)
    dist = {r["domain"]: r["rank_pico"]
            for r in pagerank_domains(df).collect()}
    assert fast == dist == local_pagerank(edges)


def test_pagerank_empty_graph_returns_empty(spark, monkeypatch):
    # an empty graph takes the single-task path at any threshold, and
    # that path must emit no ranks (n = 0 nodes divides nothing)
    df = spark.createDataFrame([], "src string, dst string")
    assert pagerank_domains(df).count() == 0
    monkeypatch.setattr(link_graph, "_LOCAL_EDGES_MAX", 0)
    assert pagerank_domains(df).count() == 0
