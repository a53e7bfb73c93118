"""Multi-source directed BFS (operators/bfs.py) vs a scalar deque oracle:
crafted paths/cycles, seed handling, the bounded-depth contract, and the
exhaustion guard's exact-boundary behavior."""

from __future__ import annotations

from collections import deque

import pytest

from accelerating_tc_spark.operators import bfs


def python_bfs(pairs, seeds, max_depth=10**9) -> dict[int, int]:
    edges = {(a, b) for a, b in pairs if a != b}
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        v = q.popleft()
        if dist[v] >= max_depth:
            continue
        for w in adj.get(v, []):
            if w not in dist:
                dist[w] = dist[v] + 1
                q.append(w)
    return dist


def run_bfs(spark, pairs, seeds, **kwargs) -> dict[int, int]:
    df = spark.createDataFrame(pairs, "src long, dst long")
    out = bfs.multi_source_distances(spark, df, seeds, **kwargs)
    return {r["vertex"]: r["dist"] for r in out.collect()}


def test_path_distances(spark):
    pairs = [(1, 2), (2, 3), (3, 4)]
    assert run_bfs(spark, pairs, [1]) == {1: 0, 2: 1, 3: 2, 4: 3}


def test_deep_path_flat_rounds(spark):
    """A 40-level directed path drives multi_source_distances through 40
    frontier rounds, past the ~15-chained-localCheckpoint Spark 4.1 cliff
    (BENCH.md §6a). With LineageCutter routing every HARD_CUT_EVERY-th cut
    through parquet the per-round wall stays flat; without it the tail
    rounds degrade geometrically and this test times out."""
    import time

    n = 41  # vertices 0..40, path 0->1->...->40 => distances 0..40
    t0 = time.time()
    got = run_bfs(spark, [(i, i + 1) for i in range(n - 1)], [0])
    wall = time.time() - t0
    assert got == {v: v for v in range(n)}
    # flat-cost bound, sized for a loaded box: the pre-cutter geometric
    # tail (x2.5/round past ~15 cuts) exceeds this long before round 40
    assert wall < 300, f"bfs 40-round wall {wall:.1f}s — lineage chain regressed"


def test_direction_respected(spark):
    # seeding the sink reaches nothing upstream
    pairs = [(1, 2), (2, 3), (3, 4)]
    assert run_bfs(spark, pairs, [4]) == {4: 0}


def test_multi_seed_takes_min(spark):
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5)]
    assert run_bfs(spark, pairs, [1, 4]) == {1: 0, 2: 1, 3: 2, 4: 0, 5: 1}


def test_cycle_terminates(spark):
    pairs = [(1, 2), (2, 3), (3, 1)]
    assert run_bfs(spark, pairs, [1]) == {1: 0, 2: 1, 3: 2}


def test_bounded_depth_truncates(spark):
    pairs = [(i, i + 1) for i in range(1, 6)]
    assert run_bfs(spark, pairs, [1], max_depth=2) == {1: 0, 2: 1, 3: 2}


def test_seed_absent_from_graph_still_listed(spark):
    pairs = [(1, 2)]
    assert run_bfs(spark, pairs, [99]) == {99: 0}


def test_self_loops_and_duplicates_ignored(spark):
    pairs = [(1, 1), (1, 2), (1, 2), (2, 3)]
    assert run_bfs(spark, pairs, [1]) == {1: 0, 2: 1, 3: 2}


def test_seed_dataframe_accepted(spark):
    pairs = [(1, 2), (2, 3)]
    seeds = spark.createDataFrame([(1,)], "vertex long")
    df = spark.createDataFrame(pairs, "src long, dst long")
    out = bfs.multi_source_distances(spark, df, seeds)
    assert {r["vertex"]: r["dist"] for r in out.collect()} == {1: 0, 2: 1, 3: 2}


def test_require_exhausted_raises_on_live_frontier(spark):
    pairs = [(i, i + 1) for i in range(1, 6)]
    with pytest.raises(RuntimeError, match="frontier still live"):
        run_bfs(spark, pairs, [1], max_depth=2, require_exhausted=True)


def test_require_exhausted_ok_at_exact_depth(spark):
    # eccentricity == max_depth: the closure IS complete, must not raise
    pairs = [(1, 2), (2, 3)]
    got = run_bfs(spark, pairs, [1], max_depth=2, require_exhausted=True)
    assert got == {1: 0, 2: 1, 3: 2}


def test_reachable_from_closure(spark):
    pairs = [(1, 2), (2, 3), (3, 1), (3, 10), (20, 1), (30, 31)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["vertex"]
        for r in bfs.reachable_from(spark, df, [1]).collect()
    }
    # forward from 1: the cycle plus 10; NOT 20 (points in) nor {30,31}
    assert got == {1, 2, 3, 10}


def test_random_digraph_matches_python_bfs(spark):
    # deterministic mod-arithmetic digraph: cycles + tendrils + sinks
    n = 80
    pairs = []
    for v in range(n):
        pairs.append((v, (v * 17 + 5) % n))
        if v % 4 == 0:
            pairs.append((v, (v * 3 + 11) % n))
    seeds = [v for v in range(n) if v % 13 == 0]
    assert run_bfs(spark, pairs, seeds, max_depth=64) == python_bfs(pairs, seeds)
    # bounded horizon agrees with the truncated oracle
    assert run_bfs(spark, pairs, seeds, max_depth=3) == python_bfs(
        pairs, seeds, max_depth=3
    )
