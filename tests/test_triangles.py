"""Cross-implementation triangle-count agreement (the reference's de-facto
oracle, SURVEY.md §5): all four Spark strategies must agree with each other,
with the numpy trace(A^3)/6 oracle, and with known exact counts; both routes
of the blocked strategy are also run on degenerate inputs."""

from __future__ import annotations

import pytest

from accelerating_tc_spark.operators import prep, triangles
from accelerating_tc_spark.sources import synthetic

STRATEGIES = ["join", "array_intersect", "kernel", "blocked"]


def _count(df) -> int:
    return df.collect()[0]["triangles"]


@pytest.mark.parametrize("name", sorted(synthetic.TINY_GRAPHS))
def test_tiny_graphs_exact(spark, name):
    edges, expected = synthetic.tiny_graph(spark, name)
    for strategy in STRATEGIES:
        got = _count(triangles.count_triangles(edges, strategy=strategy, n_blocks=2))
        assert got == expected, f"{name}/{strategy}: {got} != {expected}"


@pytest.mark.parametrize("seed", [42, 43])
def test_powerlaw_matches_numpy_oracle(spark, seed):
    pairs = synthetic.powerlaw_edge_pairs(300, 1500, seed=seed)
    expected = synthetic.numpy_triangle_count(pairs)
    edges = synthetic.edges_df(spark, pairs.tolist())
    for strategy in STRATEGIES:
        got = _count(triangles.count_triangles(edges, strategy=strategy, n_blocks=3))
        assert got == expected, f"{strategy}: {got} != {expected}"


def test_hub_graph_all_strategies_agree(spark):
    edges = synthetic.hub_edges(spark, n_vertices=150)
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    expected = synthetic.numpy_triangle_count(pairs)
    for strategy in STRATEGIES:
        got = _count(triangles.count_triangles(edges, strategy=strategy, n_blocks=4))
        assert got == expected


def test_auto_strategy_parity(spark):
    edges = synthetic.powerlaw_edges(spark, n_vertices=150, n_edges=900, seed=2)
    pairs = [(r["src"], r["dst"]) for r in prep.canonicalize_edges(edges).collect()]
    expected = synthetic.numpy_triangle_count(pairs)
    got = triangles.count_triangles(edges, strategy="auto", n_blocks=4).collect()[0]["triangles"]
    assert got == expected


def test_blocked_broadcast_route_parity(spark, monkeypatch):
    """n_blocks=None on a small graph engages the r7 broadcast-CSR route;
    it must agree with the numpy oracle, with the budget kill switch
    forcing the cogroup plan back on, and with 64-bit sparse ids (the
    kernel's rank compression)."""
    from pyspark.sql import functions as F

    from accelerating_tc_spark.operators import triangles as T

    pairs = synthetic.powerlaw_edge_pairs(300, 1500, seed=7)
    expected = synthetic.numpy_triangle_count(pairs)
    edges = synthetic.edges_df(spark, pairs.tolist())
    assert _count(triangles.count_triangles(edges, strategy="blocked")) == expected
    hashed = edges.select(
        F.xxhash64(F.col("src").cast("string")).alias("src"),
        F.xxhash64(F.col("dst").cast("string")).alias("dst"),
    )
    assert _count(triangles.count_triangles(hashed, strategy="blocked")) == expected
    monkeypatch.setattr(T, "_TC_BROADCAST_MAX_BYTES", 0)
    assert _count(triangles.count_triangles(edges, strategy="blocked")) == expected


def test_blocked_sparse_64bit_vertex_ids(spark):
    """A user feeding raw xxhash64 vertex keys (value span ~2^64, no
    compact_ids) must still get exact counts: the kernel's shard-local rank
    compression keeps the encoded probe path applicable to any id space
    (functions/csr.py)."""
    from pyspark.sql import functions as F

    pairs = synthetic.powerlaw_edge_pairs(250, 1400, seed=11)
    expected = synthetic.numpy_triangle_count(pairs)
    edges = synthetic.edges_df(spark, pairs.tolist()).select(
        F.xxhash64(F.col("src").cast("string")).alias("src"),
        F.xxhash64(F.col("dst").cast("string")).alias("dst"),
    )
    got = _count(triangles.count_triangles(edges, strategy="blocked", n_blocks=3))
    assert got == expected


def test_blocked_mega_hub_parity(spark):
    """Planted mega-hub (one vertex adjacent to half the graph): the
    degree orientation bounds the hub's out-adjacency, so the plain
    cogroup route must be exact without any hub path."""
    edges = synthetic.hub_edges(spark, n_vertices=300)
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    expected = synthetic.numpy_triangle_count(pairs)
    got = _count(triangles.count_triangles(edges, strategy="blocked", n_blocks=4))
    assert got == expected


def test_blocked_task_stats_schema(spark):
    edges = synthetic.hub_edges(spark, n_vertices=120)
    oriented = prep.orient_by_degree(prep.canonicalize_edges(edges))
    row = triangles.blocked_task_stats(oriented, n_blocks=2).collect()[0]
    pairs = [(r["src"], r["dst"]) for r in prep.canonicalize_edges(edges).collect()]
    assert row["triangles"] == synthetic.numpy_triangle_count(pairs)
    assert row["n_tasks"] >= 1 and row["max_task_s"] >= row["median_task_s"]


def test_per_vertex_counts_sum_to_3x(spark):
    edges, expected = synthetic.tiny_graph(spark, "k5")
    oriented = prep.orient_by_degree(prep.canonicalize_edges(edges))
    pv = triangles.per_vertex_triangle_counts(oriented)
    total = pv.groupBy().sum("tri_cnt").collect()[0][0]
    assert total == 3 * expected


def test_local_clustering_known(spark):
    # triangle 0-1-2 plus pendant edge (2,3): clustering 1.0 for 0 and 1,
    # 2/ (3*2/2*...) -> vertex 2 has degree 3, 1 triangle -> 2*1/(3*2)=1/3
    edges = synthetic.edges_df(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    rows = {r["vertex"]: r for r in triangles.local_clustering(edges).collect()}
    assert rows[0]["clustering"] == 1.0 and rows[0]["tri_cnt"] == 1
    assert rows[1]["clustering"] == 1.0
    assert abs(rows[2]["clustering"] - round(1 / 3, 6)) < 1e-9
    assert rows[3]["clustering"] == 0.0 and rows[3]["tri_cnt"] == 0


def test_triangle_count_estimate_unbiased_ballpark(spark):
    """DOULION sampled estimate: deterministic coin, so the estimate is a
    fixed value per (graph, p, seed); it must land within the
    concentration envelope of the exact count on a triangle-rich graph."""
    pairs = synthetic.powerlaw_edge_pairs(400, 4000, seed=12)
    exact = synthetic.numpy_triangle_count(pairs)
    edges = synthetic.edges_df(spark, pairs.tolist())
    row = triangles.triangle_count_estimate(edges, p=0.5, seed=42).collect()[0]
    assert row["p"] == 0.5
    assert 0 < row["sampled_edges"] < len(pairs)
    # p=0.5 on thousands of triangles: 3-sigma envelope is well under 40%
    assert abs(row["triangles_est"] - exact) / exact < 0.4, (
        row["triangles_est"],
        exact,
    )
    # determinism: same coin -> same estimate
    again = triangles.triangle_count_estimate(edges, p=0.5, seed=42).collect()[0]
    assert again["triangles_est"] == row["triangles_est"]


# Degenerate inputs x the two blocked routes. Wide ids map v -> 2^31 + v·(2^33+1),
# an isomorphism, so the oracle counts the compact pairs.
_WIDE_OFF, _WIDE_STRIDE = 1 << 31, (1 << 33) + 1
_K4_PENDANT = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4)]
DEGENERATE = {
    "empty": [],
    "one_edge": [(0, 1)],
    "self_loops_only": [(0, 0), (1, 1), (2, 2)],
    "duplicate_and_mirrored": [
        (0, 1), (1, 0), (0, 1), (1, 2), (2, 1), (2, 0), (0, 2), (2, 3), (3, 2), (3, 3),
    ],
    "ids_ge_2_31": _K4_PENDANT,
}


@pytest.mark.parametrize("route", ["broadcast_csr", "cogroup_auto_b", "cogroup_b3"])
@pytest.mark.parametrize("case", sorted(DEGENERATE))
def test_blocked_routes_degenerate_inputs(spark, monkeypatch, case, route):
    pairs = DEGENERATE[case]
    expected = synthetic.numpy_triangle_count(pairs)
    if case == "ids_ge_2_31":
        pairs = [(_WIDE_OFF + a * _WIDE_STRIDE, _WIDE_OFF + b * _WIDE_STRIDE) for a, b in pairs]
    edges = synthetic.edges_df(spark, pairs)
    n_blocks = 3 if route == "cogroup_b3" else None
    if route == "cogroup_auto_b":
        monkeypatch.setattr(triangles, "_TC_BROADCAST_MAX_BYTES", 0)
    took_broadcast = []
    real = triangles._broadcast_partials
    monkeypatch.setattr(
        triangles, "_broadcast_partials", lambda o: took_broadcast.append(1) or real(o)
    )
    got = _count(triangles.count_triangles(edges, strategy="blocked", n_blocks=n_blocks))
    assert got == expected
    assert bool(took_broadcast) == (route == "broadcast_csr")
    # the B the route reports: 1 for broadcast CSR, a real B for cogroup
    n_edges = len({(min(a, b), max(a, b)) for a, b in pairs if a != b})
    b = triangles.choose_n_blocks(n_edges, spark.sparkContext.defaultParallelism, n_blocks)
    assert b == 1 if route == "broadcast_csr" else b >= 2
