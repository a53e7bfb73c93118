"""HITS hubs/authorities vs a direct numpy power-iteration oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from accelerating_tc_spark.operators import hits


def _numpy_hits(edges: list[tuple[int, int]], n_iter: int) -> dict[int, tuple[float, float]]:
    verts = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    A = np.zeros((n, n))
    for s, d in edges:
        A[idx[s], idx[d]] = 1.0
    hub = np.ones(n)
    auth = np.ones(n)
    for _ in range(n_iter):
        auth = A.T @ hub
        na = np.sqrt((auth * auth).sum())
        auth = auth / na if na > 0 else auth * 0.0
        hub = A @ auth
        nh = np.sqrt((hub * hub).sum())
        hub = hub / nh if nh > 0 else hub * 0.0
    return {v: (hub[idx[v]], auth[idx[v]]) for v in verts}


EDGES = [
    (0, 1), (0, 2), (0, 3),  # 0 is a pure hub
    (4, 3), (5, 3),          # 3 is the top authority
    (1, 2), (2, 4),
    (6, 0),                  # 0 also has an in-edge
    (7, 8),                  # small side component
]


def test_hits_matches_numpy_power_iteration(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    out = {
        r["vertex"]: (r["hub"], r["auth"])
        for r in hits.hits(spark, df, n_iterations=10).collect()
    }
    expect = _numpy_hits(EDGES, 10)
    assert set(out) == set(expect)
    for v, (h, a) in expect.items():
        assert out[v][0] == pytest.approx(h, abs=1e-9)
        assert out[v][1] == pytest.approx(a, abs=1e-9)
    # structural sanity: 0 out-hubs everything, 3 is the top authority
    assert max(out, key=lambda v: out[v][0]) == 0
    assert max(out, key=lambda v: out[v][1]) == 3


def test_hits_oracle_sql_matches_spark(spark):
    duckdb = pytest.importorskip("duckdb")
    df = spark.createDataFrame(EDGES, "src long, dst long")
    spark_rows = sorted(
        (r["vertex"], round(r["hub"], 6), round(r["auth"], 6))
        for r in hits.hits(spark, df, n_iterations=10).collect()
    )
    values = ", ".join(f"({s}, {d})" for s, d in EDGES)
    sql = hits.hits_oracle_sql(
        f"WITH edges(src, dst) AS (VALUES {values})", n_iterations=10
    )
    oracle_rows = sorted(
        (int(v), float(h), float(a)) for v, h, a in duckdb.sql(sql).fetchall()
    )
    assert spark_rows == oracle_rows


def test_hits_covers_whole_vertex_set_with_zeros(spark):
    # vertex 9 -> 10: 10 has no out-edges (hub 0), 9 no in-edges (auth 0)
    df = spark.createDataFrame([(9, 10)], "src long, dst long")
    rows = {r["vertex"]: r for r in hits.hits(spark, df, n_iterations=3).collect()}
    assert set(rows) == {9, 10}
    assert rows[10]["hub"] == 0.0
    assert rows[9]["auth"] == 0.0
    assert rows[9]["hub"] == pytest.approx(1.0)
    assert rows[10]["auth"] == pytest.approx(1.0)


def test_hits_zero_rounds_keep_all_ones(spark):
    # the oracle's s0: no round ran, so nothing is normalized
    df = spark.createDataFrame(EDGES, "src long, dst long")
    rows = hits.hits(spark, df, n_iterations=0).collect()
    assert {r["vertex"] for r in rows} == {v for e in EDGES for v in e}
    assert all(r["hub"] == r["auth"] == 1.0 for r in rows)


def test_host_graph_rollup(spark):
    from accelerating_tc_spark.sources import pages as P

    corpus = P.generate_pages_distributed(spark, n_sites=3, pages_per_site=4)
    hg = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in P.host_graph(P.extract_links(corpus)).collect()
    }
    # every page links cross-site to site (s+1)%3's root -> 4 links per pair
    for s in range(3):
        assert hg[(f"site{s}.example", f"site{(s + 1) % 3}.example")] == 4
    # intra-host rows exist (ring + root links) and dedup page pairs
    assert hg[("site0.example", "site0.example")] >= 3
    # no other cross pairs than the ring
    cross = {k for k in hg if k[0] != k[1]}
    assert cross == {(f"site{s}.example", f"site{(s + 1) % 3}.example") for s in range(3)}
