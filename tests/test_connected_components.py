"""connected_components (large-star/small-star) vs a pure-python union-find.

Adversarial shapes for the alternating-star algorithm: long chains (worst
case for label propagation, must still converge in O(log^2 n) rounds),
stars, cliques, random graphs, and id orderings that are anti-sorted.
"""

import random

import pytest
from pyspark.sql import functions as F

from language_detection_spark.operators import dedup
from language_detection_spark.operators.dedup import (
    connected_components,
    near_dup_clusters,
)


@pytest.fixture()
def stars_only(monkeypatch):
    """Force the alternating-star loop: no edge set fits one task."""
    monkeypatch.setattr(dedup, "_LOCAL_EDGES_MAX", 0)


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def _check(spark, edges, monkeypatch):
    nodes = sorted({x for e in edges for x in e})
    expected = _union_find(nodes, edges)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a long, id_b long"
    )
    # both engines: the single-task union-find fast path (default at this
    # scale) and the alternating-star loop (forced via _LOCAL_EDGES_MAX=0)
    got_local = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    monkeypatch.setattr(dedup, "_LOCAL_EDGES_MAX", 0)
    got_stars = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got_local == expected
    assert got_stars == expected


def test_cc_chain(spark, monkeypatch):
    # a 64-node chain with ids reversed — diameter 63, worst case for
    # min-label propagation; stars must still converge fast
    edges = [(i + 1, i) for i in range(63)]
    _check(spark, edges, monkeypatch)


def test_cc_stats_and_round_bound(spark, stars_only):
    """Iteration-count capture: a 256-node chain (diameter 255) must
    converge — and in O(log^2 n) rounds, the point of alternating stars
    over label propagation (which would need ~n rounds here)."""
    import math

    edges = [(i + 1, i) for i in range(255)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    stats = {}
    got = {r["node"]: r["component"]
           for r in connected_components(
               df, stats=stats).collect()}
    assert all(c == 0 for c in got.values()) and len(got) == 256
    assert stats["converged"] is True
    assert stats["engine"] == "alternating-stars"
    assert 1 <= stats["rounds"] <= math.ceil(math.log2(256) ** 2)


def test_cc_unconverged_warns(spark, stars_only):
    """Exiting on the iteration budget (not the checksum fixpoint) must
    warn — silent split clusters are the failure mode."""
    edges = [(i + 1, i) for i in range(63)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    stats = {}
    with pytest.warns(RuntimeWarning, match="iteration budget"):
        connected_components(df, max_iter=1, stats=stats).collect()
    assert stats["converged"] is False and stats["rounds"] == 1


def test_cc_mixed_shapes(spark, monkeypatch):
    edges = (
        # clique 100..104
        [(a, b) for a in range(100, 105) for b in range(100, 105) if a < b]
        # star centered at high id
        + [(999, i) for i in range(200, 210)]
        # two isolated pairs
        + [(1, 2), (4, 3)]
        # chain bridging the clique to the star
        + [(104, 150), (150, 151), (151, 200)]
    )
    _check(spark, edges, monkeypatch)


def test_cc_random_graphs(spark, monkeypatch):
    rng = random.Random(7)
    nodes = list(range(0, 400, 3))
    edges = {(rng.choice(nodes), rng.choice(nodes)) for _ in range(300)}
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges, monkeypatch)


def test_cc_duplicate_and_reversed_edges(spark, monkeypatch):
    edges = [(5, 9), (9, 5), (5, 9), (9, 12), (12, 5)]
    _check(spark, edges, monkeypatch)


@pytest.fixture()
def dup_corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest to hide from all the hunters"
    )
    alt = base.replace("green", "dark")
    other = (
        "completely different text about databases indexes transactions "
        "and write ahead logging in modern storage engines and systems"
    )
    rows = [
        (0, base),
        (1, base),              # exact dup of 0
        (2, alt),               # near dup of 0/1
        (3, other),
        (4, other + " extra"),  # near dup of 3
        (5, "zebra xylophone quantum " * 12),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_near_dup_clusters(spark, dup_corpus):
    out = near_dup_clusters(dup_corpus, minhash_threshold=0.5,
                            simhash_max_hamming=8)
    rows = {r["doc_id"]: (r["cluster_id"], r["cluster_size"])
            for r in out.collect()}
    # 0,1,2 cluster together under cluster_id 0; 3,4 under 3
    assert rows[0][0] == 0 and rows[1][0] == 0 and rows[2][0] == 0
    assert rows[0][1] == 3
    assert rows[3] == (3, 2) and rows[4] == (3, 2)
    assert 5 not in rows  # singleton never appears
    # canonical keep rule retains exactly one doc per cluster
    kept = [d for d, (cid, _) in rows.items() if d == cid]
    assert sorted(kept) == [0, 3]


def test_cc_components_match_pair_transitivity(spark, dup_corpus):
    # the cluster assignment must equal union-find over the union of the
    # two pair generators' outputs (composition sanity)
    from language_detection_spark.operators.dedup import (
        minhash_dedup_pairs,
        simhash_near_dup_pairs,
    )

    mh = minhash_dedup_pairs(dup_corpus, threshold=0.5)
    sh = simhash_near_dup_pairs(
        dup_corpus.filter(F.length(F.trim("text")) > 0), max_hamming=8
    )
    pairs = {(r["id_a"], r["id_b"]) for r in mh.collect()} | {
        (r["id_a"], r["id_b"]) for r in sh.collect()
    }
    nodes = sorted({x for e in pairs for x in e})
    expected = _union_find(nodes, pairs)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in near_dup_clusters(dup_corpus).collect()
    }
    assert got == expected
