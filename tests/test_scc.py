"""SCC (operators/scc.py) vs a scalar Kosaraju oracle on crafted + random
digraphs, plus the trim / coloring phase boundaries and the size histogram."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from accelerating_tc_spark.operators import scc, supersteps
from accelerating_tc_spark.sources import tpch_graph


def python_scc(pairs) -> dict[int, int]:
    """Kosaraju on deduped, loop-free edges: component = min vertex in SCC."""
    edges = {(a, b) for a, b in pairs if a != b}
    verts = sorted({v for e in edges for v in e})
    fwd: dict[int, list[int]] = {v: [] for v in verts}
    rev: dict[int, list[int]] = {v: [] for v in verts}
    for a, b in edges:
        fwd[a].append(b)
        rev[b].append(a)

    seen: set[int] = set()
    order: list[int] = []
    for start in verts:
        if start in seen:
            continue
        # iterative post-order DFS
        stack: list[tuple[int, int]] = [(start, 0)]
        seen.add(start)
        while stack:
            v, i = stack.pop()
            if i < len(fwd[v]):
                stack.append((v, i + 1))
                w = fwd[v][i]
                if w not in seen:
                    seen.add(w)
                    stack.append((w, 0))
            else:
                order.append(v)

    comp: dict[int, int] = {}
    for root in reversed(order):
        if root in comp:
            continue
        members = [root]
        comp[root] = root
        while members:
            v = members.pop()
            for w in rev[v]:
                if w not in comp:
                    comp[w] = root
                    members.append(w)
    # normalize: label = min vertex of each SCC
    groups: dict[int, list[int]] = {}
    for v, r in comp.items():
        groups.setdefault(r, []).append(v)
    return {v: min(g) for g in groups.values() for v in g}


def run_scc(spark, pairs, **kwargs) -> dict[int, int]:
    df = spark.createDataFrame(pairs, "src long, dst long")
    out = scc.strongly_connected_components(spark, df, **kwargs)
    return {r["vertex"]: r["component"] for r in out.collect()}


def test_single_cycle(spark):
    pairs = [(1, 2), (2, 3), (3, 4), (4, 1)]
    assert run_scc(spark, pairs) == {1: 1, 2: 1, 3: 1, 4: 1}


def test_path_dag_all_singletons(spark):
    # pure DAG: trim must clear it (ends peel inward)
    pairs = [(i, i + 1) for i in range(1, 8)]
    assert run_scc(spark, pairs) == {i: i for i in range(1, 9)}


def test_two_cycles_one_way_bridge(spark):
    # {1,2,3} -> bridge -> {10,11}: two SCCs, bridge does not merge them
    pairs = [(1, 2), (2, 3), (3, 1), (3, 10), (10, 11), (11, 10)]
    assert run_scc(spark, pairs) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_bowtie(spark):
    # IN tendril -> core 2-cycle -> OUT tendril, plus a detached 2-cycle
    pairs = [
        (100, 5), (101, 5),          # IN
        (5, 6), (6, 5),              # core SCC {5,6}
        (6, 200), (200, 201),        # OUT chain
        (300, 301), (301, 300),      # detached SCC
    ]
    got = run_scc(spark, pairs)
    assert got == {100: 100, 101: 101, 5: 5, 6: 5, 200: 200, 201: 201, 300: 300, 301: 300}


def test_self_loops_and_duplicates_dropped(spark):
    pairs = [(1, 1), (1, 2), (1, 2), (2, 1), (3, 3)]
    # vertex 3's only edge is a self-loop -> excluded (matches the oracle)
    assert run_scc(spark, pairs) == {1: 1, 2: 1}


def test_nested_scc_dag_needs_multiple_outer_rounds(spark):
    # chain of 2-cycles A -> B -> C: coloring assigns ONE root per round on
    # the min side, so the loop must iterate outer rounds to finish
    pairs = []
    for base in (10, 20, 30):
        pairs += [(base, base + 1), (base + 1, base)]
    pairs += [(10, 20), (20, 30)]
    got = run_scc(spark, pairs)
    assert got == {10: 10, 11: 10, 20: 20, 21: 20, 30: 30, 31: 30}


def test_random_digraph_matches_kosaraju(spark):
    # deterministic pseudo-random digraph: mod-arithmetic edge rules give a
    # seedless reproducible mix of cycles, tendrils and singletons
    n = 72
    pairs = []
    for v in range(n):
        pairs.append((v, (v * 13 + 7) % n))
        if v % 3 == 0:
            pairs.append((v, (v * 29 + 1) % n))
        if v % 7 == 2:
            pairs.append(((v * 5) % n, v))
    expect = python_scc(pairs)
    got = run_scc(spark, [(a, b) for a, b in pairs])
    assert got == expect


def test_random_digraph_matches_kosaraju_classic_plan(spark, monkeypatch):
    # the test graphs sit under the state-broadcast gate; a zero budget
    # forces the classic (shuffled-state) plan in both SCC phases
    monkeypatch.setattr(supersteps, "STATE_BROADCAST_MAX_BYTES", 0)
    test_random_digraph_matches_kosaraju(spark)


def test_outer_cap_raises(spark):
    # a chain of 2-cycles longer than max_outer cannot finish -> must raise,
    # never return a partial assignment
    pairs = []
    for i in range(4):
        base = 10 * (i + 1)
        pairs += [(base, base + 1), (base + 1, base)]
        if i:
            pairs.append((base - 10, base))
    with pytest.raises(RuntimeError, match="outer rounds"):
        run_scc(spark, pairs, max_outer=2, max_trim_rounds=1)


def test_scc_sizes_histogram(spark):
    pairs = [(1, 2), (2, 1), (3, 4), (4, 3), (4, 5)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["size"]: r["n_components"]
        for r in scc.scc_sizes(spark, df).collect()
    }
    assert got == {1: 1, 2: 2}  # {1,2}, {3,4}, {5}


def test_directed_fixture_oracle_parity_duckdb(spark, sf_tiny):
    """End-to-end parity at sf0.001: the Spark coloring SCC vs the DuckDB
    closure oracle on the same directed co-purchase graph."""
    import duckdb

    edges = tpch_graph.copurchase_directed_edges(spark, sf_tiny)
    got = {
        r["vertex"]: r["component"]
        for r in scc.strongly_connected_components(spark, edges).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{sf_tiny}/lineitem.parquet'"
    )
    sql = scc.scc_oracle_sql(
        "WITH edges AS (" + tpch_graph.COPURCHASE_DIRECTED_SQL + ")"
    )
    expect = {int(v): int(c) for v, c in con.execute(sql).fetchall()}
    assert got == expect
    # sanity: the fixture actually has non-trivial directed structure
    sizes = {}
    for c in got.values():
        sizes[c] = sizes.get(c, 0) + 1
    assert max(sizes.values()) >= 2


def python_condensation(pairs) -> set[tuple[int, int]]:
    comp = python_scc(pairs)
    return {
        (comp[a], comp[b])
        for a, b in {(a, b) for a, b in pairs if a != b}
        if comp[a] != comp[b]
    }


def test_condensation_two_cycles_one_bridge(spark):
    pairs = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {(r["src_scc"], r["dst_scc"]) for r in scc.condensation_edges(spark, df).collect()}
    assert got == {(1, 4)}


def test_condensation_random_parity_and_acyclic(spark):
    import random

    rng = random.Random(23)
    pairs = list({(rng.randrange(40), rng.randrange(40)) for _ in range(140)})
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {(r["src_scc"], r["dst_scc"]) for r in scc.condensation_edges(spark, df).collect()}
    assert got == python_condensation(pairs)
    # the condensation must be a DAG: Kahn's algorithm consumes every node
    nodes = {v for e in got for v in e}
    indeg = {v: 0 for v in nodes}
    outs = {v: [] for v in nodes}
    for a, b in got:
        indeg[b] += 1
        outs[a].append(b)
    q = [v for v in nodes if indeg[v] == 0]
    seen = 0
    while q:
        v = q.pop()
        seen += 1
        for w in outs[v]:
            indeg[w] -= 1
            if indeg[w] == 0:
                q.append(w)
    assert seen == len(nodes)
