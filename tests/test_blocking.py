"""Blocking-plan unit tests: auto block count (cal_part_num analog)."""

from __future__ import annotations

from accelerating_tc_spark.operators import triangles
from accelerating_tc_spark.plans import blocking
from accelerating_tc_spark.sources import synthetic


def test_auto_n_blocks_parallelism_rule():
    # B grows along the {8,12,16,24,32,48,...} ladder until B^2 >= 18*cores
    # (BENCH.md §6e sweep: B=12 at 8 cores, B=24 at 32 cores, B=8 at 2)
    assert blocking.auto_n_blocks(2, 1000) == 8
    assert blocking.auto_n_blocks(8, 1000) == 12
    assert blocking.auto_n_blocks(32, 1000) == 24
    assert blocking.auto_n_blocks(128, 1000) == 48


def test_auto_n_blocks_memory_rule():
    # a task holds ~16*entries/B bytes; B grows until that fits the budget
    entries = 10_000_000  # 160 MB of adjacency
    assert blocking.auto_n_blocks(2, entries, task_budget_bytes=16 << 20) == 12
    # parallelism floor still applies when memory is no constraint
    assert blocking.auto_n_blocks(32, entries, task_budget_bytes=1 << 40) == 24
    # cap respected
    assert blocking.auto_n_blocks(2, 1 << 40, task_budget_bytes=1 << 20) == 1536


def test_auto_n_blocks_end_to_end_parity(spark):
    """n_blocks=None (auto) must give the exact count and pick the
    parallelism-rule B on a small graph."""
    pairs = synthetic.powerlaw_edge_pairs(200, 1100, seed=5)
    expected = synthetic.numpy_triangle_count(pairs)
    edges = synthetic.edges_df(spark, pairs.tolist())
    got = triangles.count_triangles(edges, strategy="blocked").collect()[0]["triangles"]
    assert got == expected
    from accelerating_tc_spark.operators import prep

    oriented = prep.orient_by_degree(prep.canonicalize_edges(edges))
    row = triangles.blocked_task_stats(oriented).collect()[0]
    assert row["triangles"] == expected
    cores = spark.sparkContext.defaultParallelism
    assert row["n_blocks"] == blocking.auto_n_blocks(cores, len(pairs))
