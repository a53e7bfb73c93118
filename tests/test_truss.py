"""k-truss vs a pure-python peel oracle."""

from __future__ import annotations

from collections import defaultdict

from accelerating_tc_spark.operators import prep, truss
from accelerating_tc_spark.sources import synthetic


def py_ktruss(pairs, k):
    edges = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    while True:
        adj = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        kept = {(a, b) for a, b in edges if len(adj[a] & adj[b]) >= k - 2}
        if kept == edges:
            return edges
        edges = kept


def test_ktruss_k4_known(spark):
    # K5 is a 5-truss; attaching a triangle fan keeps the K5 as the 4-truss
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    extra = [(0, 10), (1, 10), (10, 11), (11, 12), (10, 12)]
    edges = synthetic.edges_df(spark, k5 + extra)
    canonical = prep.canonicalize_edges(edges)
    got = {(r["src"], r["dst"]) for r in truss.ktruss(spark, canonical, k=4).collect()}
    assert got == py_ktruss(k5 + extra, 4) == set(k5)


def test_ktruss_matches_python_powerlaw(spark):
    pairs = synthetic.powerlaw_edge_pairs(120, 700, seed=17).tolist()
    canonical = prep.canonicalize_edges(synthetic.edges_df(spark, pairs))
    for k in (3, 4, 5):
        got = {(r["src"], r["dst"]) for r in truss.ktruss(spark, canonical, k=k).collect()}
        assert got == py_ktruss(pairs, k), f"k={k}"


def test_truss_numbers_consistent(spark):
    pairs = [(a, b) for a in range(5) for b in range(a + 1, 5)] + [(0, 10), (10, 11)]
    canonical = prep.canonicalize_edges(synthetic.edges_df(spark, pairs))
    tn = {(r["src"], r["dst"]): r["truss"] for r in truss.truss_numbers(spark, canonical).collect()}
    # K5 edges have truss 5; pendant edges truss 2
    for a in range(5):
        for b in range(a + 1, 5):
            assert tn[(a, b)] == 5
    assert tn[(0, 10)] == 2 and tn[(10, 11)] == 2
    assert len(tn) == len(pairs)


def py_truss_numbers(pairs):
    """truss(e): the largest k with e in py_ktruss(pairs, k)."""
    out, k = {}, 2
    while edges := py_ktruss(pairs, k):
        out.update(dict.fromkeys(edges, k))
        k += 1
    return out


def test_truss_numbers_level_jump_parity(spark):
    """The min-support level jump must label every edge as the pure-python
    oracle does — on a gap spectrum (disjoint cliques) where the jump
    actually skips levels."""
    rows, base = [], 0
    for c in (5, 9, 17):
        rows += [(base + i, base + j) for i in range(c) for j in range(i + 1, c)]
        base += c
    edges = prep.canonicalize_edges(spark.createDataFrame(rows, "src long, dst long"))
    got = {(r["src"], r["dst"]): r["truss"] for r in truss.truss_numbers(spark, edges).collect()}
    assert got == py_truss_numbers(rows)
    # clique of size c is a c-truss
    assert set(got.values()) == {5, 9, 17}
