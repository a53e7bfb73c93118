from __future__ import annotations

from pyspark.sql import functions as F

from accelerating_tc_spark.operators import prep
from accelerating_tc_spark.sources import synthetic


def test_canonicalize_drops_loops_dupes_mirrors(spark):
    edges, _ = synthetic.tiny_graph(spark, "dirty_triangle")
    clean = prep.canonicalize_edges(edges)
    rows = sorted((r["src"], r["dst"]) for r in clean.collect())
    assert rows == [(0, 1), (0, 2), (1, 2)]


def test_degrees(spark):
    edges, _ = synthetic.tiny_graph(spark, "star10")
    deg = {r["vertex"]: r["degree"] for r in prep.degrees(prep.canonicalize_edges(edges)).collect()}
    assert deg[0] == 10
    assert all(deg[v] == 1 for v in range(1, 11))


def test_orient_by_degree_bounds_outdegree(spark):
    # star: center has degree 10, leaves 1 -> all edges must point leaf -> center
    edges, _ = synthetic.tiny_graph(spark, "star10")
    oriented = prep.orient_by_degree(prep.canonicalize_edges(edges))
    rows = oriented.collect()
    assert all(r["dst"] == 0 for r in rows)
    # out-degree of every vertex is <= 1 here
    od = prep.out_degrees(oriented)
    assert od.agg(F.max("out_degree")).collect()[0][0] == 1


def test_orientation_is_permutation_of_edges(spark):
    pairs = synthetic.powerlaw_edge_pairs(100, 400, seed=5)
    edges = synthetic.edges_df(spark, pairs.tolist())
    canonical = prep.canonicalize_edges(edges)
    oriented = prep.orient_by_degree(canonical)
    c = sorted((min(r["src"], r["dst"]), max(r["src"], r["dst"])) for r in canonical.collect())
    o = sorted((min(r["src"], r["dst"]), max(r["src"], r["dst"])) for r in oriented.collect())
    assert c == o


def test_prune_low_degree_iterative_peels_tail(spark):
    # path10 1-core: iterating degree>=2 peeling eats the whole path
    edges, _ = synthetic.tiny_graph(spark, "path10")
    pruned = prep.prune_low_degree(prep.canonicalize_edges(edges), min_degree=2, iterate=True)
    assert pruned.count() == 0
    # two_triangles: every vertex has degree 2 -> nothing pruned
    edges2, _ = synthetic.tiny_graph(spark, "two_triangles")
    pruned2 = prep.prune_low_degree(prep.canonicalize_edges(edges2), min_degree=2, iterate=True)
    assert pruned2.count() == 6


def test_compact_ids_dense(spark):
    edges = synthetic.edges_df(spark, [(100, 200), (200, 4000), (100, 4000)])
    remapped, mapping = prep.compact_ids(edges)
    ids = sorted(r["new_id"] for r in mapping.collect())
    assert ids == [0, 1, 2]
    assert remapped.count() == 3


def test_graph_stats_star_assortativity(spark):
    # star K1,4: perfectly disassortative (r = -1); known counts
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], "src long, dst long"
    )
    row = prep.graph_stats(prep.canonicalize_edges(edges)).collect()[0]
    assert row["n_vertices"] == 5
    assert row["n_edges"] == 4
    assert row["max_degree"] == 4
    assert row["avg_degree"] == round(8 / 5, 6)
    assert row["assortativity"] == -1.0


def test_graph_stats_regular_graph_null_assortativity(spark):
    # a cycle is 2-regular: zero degree variance makes corr undefined.
    # Spark's corr yields NaN but SQL CORR (the DuckDB oracle) yields NULL;
    # graph_stats maps both to NULL so engine and oracle agree
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    row = prep.graph_stats(prep.canonicalize_edges(edges)).collect()[0]
    assert row["n_vertices"] == 4 and row["n_edges"] == 4
    assert row["assortativity"] is None
