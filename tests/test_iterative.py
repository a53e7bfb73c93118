"""PageRank / CC / LP / k-core vs independent pure-python+numpy oracles,
plus checkpoint/resume of the superstep spine (north-rule requirements)."""

from __future__ import annotations

import numpy as np
import pytest

from accelerating_tc_spark.operators import (
    components,
    hits,
    kcore,
    labelprop,
    pagerank,
    prep,
    supersteps,
)
from accelerating_tc_spark.sources import synthetic
from test_hits import _numpy_hits


def _clean_pairs(pairs) -> list[tuple[int, int]]:
    seen = set()
    for a, b in pairs:
        if a == b:
            continue
        seen.add((min(a, b), max(a, b)))
    return sorted(seen)


def numpy_pagerank(pairs, n_iter=10, d=0.85) -> dict[int, float]:
    edges = _clean_pairs(pairs)
    verts = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    deg = np.zeros(n)
    for a, b in edges:
        deg[idx[a]] += 1
        deg[idx[b]] += 1
    rank = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.zeros(n)
        for a, b in edges:
            contrib[idx[b]] += rank[idx[a]] / deg[idx[a]]
            contrib[idx[a]] += rank[idx[b]] / deg[idx[b]]
        rank = (1 - d) / n + d * contrib
    return {v: rank[idx[v]] for v in verts}


def python_components(pairs) -> dict[int, int]:
    edges = _clean_pairs(pairs)
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def python_label_prop(pairs, n_iter=5) -> dict[int, int]:
    edges = _clean_pairs(pairs)
    nbrs: dict[int, list[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    label = {v: v for v in nbrs}
    for _ in range(n_iter):
        new = {}
        for v in nbrs:
            counts: dict[int, int] = {}
            for u in nbrs[v]:
                counts[label[u]] = counts.get(label[u], 0) + 1
            best = min(counts, key=lambda l: (-counts[l], l))
            new[v] = best
        label = new
    return label


def python_core_numbers(pairs) -> dict[int, int]:
    edges = _clean_pairs(pairs)
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in nbrs.items()}
    core: dict[int, int] = {}
    remaining = set(nbrs)
    k = 0
    while remaining:
        v = min(remaining, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        remaining.remove(v)
        for u in nbrs[v]:
            if u in remaining:
                deg[u] -= 1
                nbrs[u].discard(v)
    return core


@pytest.fixture(scope="module")
def graph(spark):
    pairs = synthetic.powerlaw_edge_pairs(120, 500, seed=11).tolist()
    # add two extra disjoint blobs so CC has >1 component
    pairs += [(500, 501), (501, 502), (500, 502), (600, 601)]
    edges = synthetic.edges_df(spark, pairs)
    return pairs, prep.canonicalize_edges(edges)


def test_pagerank_matches_numpy(spark, graph):
    pairs, canonical = graph
    got = {r["vertex"]: r["rank"] for r in pagerank.pagerank(spark, canonical, n_iterations=10).collect()}
    expected = numpy_pagerank(pairs, n_iter=10)
    assert set(got) == set(expected)
    for v in expected:
        assert abs(got[v] - expected[v]) < 1e-9, v
    assert abs(sum(got.values()) - 1.0) < 1e-6


def numpy_personalized_pagerank(pairs, n_seeds=8, n_iter=10, d=0.85) -> dict[int, float]:
    edges = _clean_pairs(pairs)
    verts = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    deg = np.zeros(n)
    for a, b in edges:
        deg[idx[a]] += 1
        deg[idx[b]] += 1
    seeds = verts[: min(n_seeds, n)]
    s = np.zeros(n)
    for v in seeds:
        s[idx[v]] = 1.0 / len(seeds)
    rank = s.copy()
    for _ in range(n_iter):
        contrib = np.zeros(n)
        for a, b in edges:
            contrib[idx[b]] += rank[idx[a]] / deg[idx[a]]
            contrib[idx[a]] += rank[idx[b]] / deg[idx[b]]
        rank = (1 - d) * s + d * contrib
    return {v: rank[idx[v]] for v in verts}


def test_personalized_pagerank_matches_numpy(spark, graph):
    pairs, canonical = graph
    got = {
        r["vertex"]: r["rank"]
        for r in pagerank.personalized_pagerank(
            spark, canonical, n_seeds=8, n_iterations=10
        ).collect()
    }
    expected = numpy_personalized_pagerank(pairs, n_seeds=8, n_iter=10)
    assert set(got) == set(expected)
    for v in expected:
        assert abs(got[v] - expected[v]) < 1e-9, v
    # mass conservation: init sums to 1 and the dangling-free update
    # preserves total mass
    assert abs(sum(got.values()) - 1.0) < 1e-6
    # locality: teleport concentrates mass on the seed set vs the uniform walk
    seeds = sorted(got)[:8]
    uni = {r["vertex"]: r["rank"] for r in pagerank.pagerank(spark, canonical, n_iterations=10).collect()}
    assert sum(got[v] for v in seeds) > sum(uni[v] for v in seeds)


def test_personalized_pagerank_explicit_seed_frame(spark, graph):
    pairs, canonical = graph
    from accelerating_tc_spark.sources import synthetic as syn
    from pyspark.sql import functions as F

    seeds = syn.edges_df(spark, [(600, 601)]).select(F.col("src").alias("vertex"))
    got = {
        r["vertex"]: r["rank"]
        for r in pagerank.personalized_pagerank(
            spark, canonical, seeds=seeds, n_iterations=10
        ).collect()
    }
    # all teleport mass stays inside the 2-vertex component {600, 601}
    assert abs(got[600] + got[601] - 1.0) < 1e-9
    assert all(abs(got[v]) < 1e-12 for v in got if v not in (600, 601))


@pytest.fixture
def classic_plan(monkeypatch):
    """Every test graph sits under the state-broadcast gate, so the plain
    tests run the broadcast-state plan; a zero budget forces the classic
    (relation partitioned by src, state shuffled) plan."""
    monkeypatch.setattr(supersteps, "STATE_BROADCAST_MAX_BYTES", 0)


def test_state_plan_zero_budget_disables_broadcast(monkeypatch):
    """SPARK_GRAFT_STATE_BROADCAST_MAX_MB=0 is an exact kill switch: even a
    0-byte state (an empty graph) takes the classic plan."""
    monkeypatch.setattr(supersteps, "STATE_BROADCAST_MAX_BYTES", 0)
    assert not supersteps.state_plan(0).broadcast
    monkeypatch.setattr(supersteps, "STATE_BROADCAST_MAX_BYTES", 1 << 20)
    assert supersteps.state_plan(0).broadcast
    assert supersteps.state_plan(1 << 20).broadcast
    assert not supersteps.state_plan((1 << 20) + 1).broadcast


# Degenerate inputs x vertex programs x both sides of the state-broadcast
# gate. Wide ids map v -> 2^31 + v·(2^33+1): past the LP packed argmax.
_WIDE_OFF, _WIDE_STRIDE = 1 << 31, (1 << 33) + 1
_K4_PENDANT = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4)]
DEGENERATE = {
    "empty": [],
    "one_edge": [(3, 7)],
    "self_loops_only": [(0, 0), (1, 1), (2, 2)],
    "duplicate_and_mirrored": [
        (0, 1), (1, 0), (0, 1), (1, 2), (2, 1), (2, 0), (0, 2), (2, 3), (3, 2), (3, 3),
    ],
    "two_components": [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (12, 13)],
    "ids_ge_2_31": [
        (_WIDE_OFF + a * _WIDE_STRIDE, _WIDE_OFF + b * _WIDE_STRIDE) for a, b in _K4_PENDANT
    ],
}
# name: (call returning the (vertex, *cols) state, col or tuple of cols, oracle)
VERTEX_PROGRAMS = {
    "pagerank": (
        lambda spark, c: pagerank.pagerank(spark, c, n_iterations=10), "rank", numpy_pagerank
    ),
    "personalized_pagerank": (
        lambda spark, c: pagerank.personalized_pagerank(spark, c, n_iterations=10),
        "rank",
        numpy_personalized_pagerank,
    ),
    "connected_components": (components.connected_components, "component", python_components),
    "label_propagation": (
        lambda spark, c: labelprop.label_propagation(spark, c, n_iterations=5),
        "label",
        python_label_prop,
    ),
    "core_numbers": (kcore.core_numbers, "core", python_core_numbers),
    "hits": (
        lambda spark, c: hits.hits(spark, c, n_iterations=10),
        ("hub", "auth"),
        lambda pairs: _numpy_hits(_clean_pairs(pairs), 10),
    ),
}


@pytest.mark.parametrize("plan", ["broadcast_state", "classic"])
@pytest.mark.parametrize("program", sorted(VERTEX_PROGRAMS))
@pytest.mark.parametrize("case", sorted(DEGENERATE))
def test_vertex_programs_degenerate_inputs(spark, request, monkeypatch, case, program, plan):
    if plan == "classic":
        request.getfixturevalue("classic_plan")
    taken = []
    real_plan = supersteps.state_plan
    monkeypatch.setattr(
        supersteps, "state_plan", lambda b: taken.append(real_plan(b)) or taken[-1]
    )
    pairs = DEGENERATE[case]
    run, col, oracle = VERTEX_PROGRAMS[program]
    canonical = prep.canonicalize_edges(synthetic.edges_df(spark, pairs))
    if not _clean_pairs(pairs) and program == "personalized_pagerank":
        with pytest.raises(ValueError, match="non-empty seed set"):
            run(spark, canonical)
        return
    pick = (lambda r: r[col]) if isinstance(col, str) else (lambda r: tuple(r[c] for c in col))
    got = {r["vertex"]: pick(r) for r in run(spark, canonical).collect()}
    expected = oracle(pairs) if _clean_pairs(pairs) else {}
    assert set(got) == set(expected)
    for v, want in expected.items():
        assert got[v] == pytest.approx(want, rel=0, abs=1e-9), v
    assert taken and all(p.broadcast == (plan == "broadcast_state") for p in taken)


# every call that caches loop relations; each must release them all
CACHING_CALLS = {
    "pagerank_run": lambda spark, c: pagerank.pagerank_run(spark, c, n_iterations=3),
    "personalized_pagerank_run": lambda spark, c: pagerank.personalized_pagerank_run(
        spark, c, n_iterations=3
    ),
    "connected_components_run": components.connected_components_run,
    "label_propagation_run": lambda spark, c: labelprop.label_propagation_run(
        spark, c, n_iterations=3
    ),
    "core_numbers": kcore.core_numbers,
    "hits_run": lambda spark, c: hits.hits_run(spark, c, n_iterations=3),
}


@pytest.mark.parametrize("call", sorted(CACHING_CALLS))
def test_no_dataframe_cache_outlives_the_call(spark, graph, call):
    """Compared through the session's cache manager: a cache the call
    registers and keeps leaks for the session's lifetime."""
    _, canonical = graph
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    before = cache_manager.numCachedEntries()
    CACHING_CALLS[call](spark, canonical)
    assert cache_manager.numCachedEntries() == before


def test_connected_components_exact(spark, graph):
    pairs, canonical = graph
    got = {
        r["vertex"]: r["component"]
        for r in components.connected_components(spark, canonical).collect()
    }
    assert got == python_components(pairs)


@pytest.mark.usefixtures("classic_plan")
def test_connected_components_exact_classic_plan(spark, graph):
    test_connected_components_exact(spark, graph)


def test_cc_pointer_jumping_on_path_graph(spark):
    """High-diameter fixture: a 120-vertex path. Plain min-propagation would
    need O(diameter) rounds; pointer jumping must converge in O(log n) and
    give the exact labels."""
    pairs = [(i, i + 1) for i in range(119)]
    canonical = prep.canonicalize_edges(synthetic.edges_df(spark, pairs))
    jump = components.connected_components_run(spark, canonical)
    assert jump.converged and jump.iterations <= 12  # ~log2(120) + slack
    got = {r["vertex"]: r["component"] for r in jump.state.collect()}
    assert got == python_components(pairs)


@pytest.mark.usefixtures("classic_plan")
def test_cc_checkpoint_resume_classic_plan(spark, tmp_path):
    """An interrupted checkpointed CC run on the classic plan resumes from
    its latest snapshot and lands on the same fixpoint, in the same number
    of rounds, as an uninterrupted run."""
    pairs = [(i, i + 1) for i in range(119)]
    canonical = prep.canonicalize_edges(synthetic.edges_df(spark, pairs))
    ckpt = str(tmp_path / "cc_ckpt")
    with pytest.raises(RuntimeError, match="NOT a fixpoint"):
        components.connected_components_run(
            spark, canonical, max_iterations=2, checkpoint_dir=ckpt
        )
    assert supersteps.latest_checkpoint(ckpt) == 1
    resumed = components.connected_components_run(spark, canonical, checkpoint_dir=ckpt)
    fresh = components.connected_components_run(spark, canonical)
    assert resumed.converged and resumed.iterations == fresh.iterations
    got = {r["vertex"]: r["component"] for r in resumed.state.collect()}
    assert got == python_components(pairs)


def test_iterate_nonconverged_raises(spark):
    """Exact-semantics operators must not silently return a non-fixpoint."""
    pairs = [(i, i + 1) for i in range(60)]
    canonical = prep.canonicalize_edges(synthetic.edges_df(spark, pairs))
    with pytest.raises(RuntimeError, match="NOT a fixpoint"):
        components.connected_components(spark, canonical, max_iterations=2)


def test_label_propagation_matches_python(spark, graph):
    pairs, canonical = graph
    got = {
        r["vertex"]: r["label"]
        for r in labelprop.label_propagation(spark, canonical, n_iterations=5).collect()
    }
    assert got == python_label_prop(pairs, n_iter=5)


def test_label_propagation_big_ids_fallback(spark, graph):
    """Vertex ids beyond 2^31 must route the argmax through the generic
    max-count + min-label path (the r7 packed-long fast path is guarded by
    an id-bounds check). Shifting every id by a constant is a label-
    propagation homomorphism (counts unchanged, min-label tie-break order
    preserved), so the shifted run must equal the small-id run + offset."""
    from pyspark.sql import functions as F

    pairs, canonical = graph
    off = 1 << 33
    shifted = canonical.select(
        (F.col("src") + off).alias("src"), (F.col("dst") + off).alias("dst")
    )
    small = {
        r["vertex"]: r["label"]
        for r in labelprop.label_propagation(spark, canonical, n_iterations=3).collect()
    }
    big = {
        r["vertex"]: r["label"]
        for r in labelprop.label_propagation(spark, shifted, n_iterations=3).collect()
    }
    assert big == {v + off: lbl + off for v, lbl in small.items()}


def test_core_numbers_exact(spark, graph):
    pairs, canonical = graph
    got = {r["vertex"]: r["core"] for r in kcore.core_numbers(spark, canonical).collect()}
    expected = python_core_numbers(pairs)
    assert got == expected


@pytest.mark.usefixtures("classic_plan")
def test_core_numbers_exact_classic_plan(spark, graph):
    test_core_numbers_exact(spark, graph)


def test_orient_by_core_preserves_edges_and_counts(spark, graph):
    from accelerating_tc_spark.operators import triangles

    pairs, canonical = graph
    cores = kcore.core_numbers(spark, canonical)
    oriented = kcore.orient_by_core(canonical, cores)
    assert oriented.count() == canonical.count()
    got = triangles.triangle_count_kernel(oriented).collect()[0]["triangles"]
    expected = synthetic.numpy_triangle_count(pairs)
    assert got == expected


def test_pagerank_checkpoint_resume(spark, graph, tmp_path):
    pairs, canonical = graph
    ckpt = str(tmp_path / "pr_ckpt")
    # interrupted run: only 4 iterations
    pagerank.pagerank(spark, canonical, n_iterations=4, checkpoint_dir=ckpt)
    from accelerating_tc_spark.operators.supersteps import latest_checkpoint

    assert latest_checkpoint(ckpt) == 3
    # resumed run continues from iter 3 to 10
    resumed = pagerank.pagerank(spark, canonical, n_iterations=10, checkpoint_dir=ckpt)
    fresh = pagerank.pagerank(spark, canonical, n_iterations=10)
    r = {x["vertex"]: x["rank"] for x in resumed.collect()}
    f = {x["vertex"]: x["rank"] for x in fresh.collect()}
    assert set(r) == set(f)
    for v in f:
        assert abs(r[v] - f[v]) < 1e-12
    # lineage metrics recorded per iteration
    lineage = (tmp_path / "pr_ckpt" / "lineage.jsonl").read_text().strip().splitlines()
    assert len(lineage) >= 10


def test_pagerank_resume_past_requested_rounds(spark, graph, tmp_path):
    """A checkpoint dir left by a longer run (10 rounds) resumes a 5-round
    run from its newest commit below round 5, not from round 9."""
    _, canonical = graph
    ckpt = str(tmp_path / "pr_ckpt")
    pagerank.pagerank(spark, canonical, n_iterations=10, checkpoint_dir=ckpt)
    assert supersteps.latest_checkpoint(ckpt) == 9
    resumed = pagerank.pagerank_run(spark, canonical, n_iterations=5, checkpoint_dir=ckpt)
    fresh = pagerank.pagerank(spark, canonical, n_iterations=5)
    assert resumed.iterations == 5
    r = {x["vertex"]: x["rank"] for x in resumed.state.collect()}
    f = {x["vertex"]: x["rank"] for x in fresh.collect()}
    assert set(r) == set(f)
    assert all(abs(r[v] - f[v]) < 1e-12 for v in f)


# Spark jobs of one checkpointed loop on the `graph` fixture; the previous
# design (an eager cut of every round, a histogram job per round, a probe
# job per round, footer-inference reads) ran 53 and 35
CHECKPOINTED_LOOP_JOBS = {
    "pagerank_run": (
        lambda spark, c, d: pagerank.pagerank_run(spark, c, n_iterations=10, checkpoint_dir=d),
        21,
    ),
    "connected_components_run": (
        lambda spark, c, d: components.connected_components_run(spark, c, checkpoint_dir=d),
        20,
    ),
}


@pytest.mark.parametrize("call", sorted(CHECKPOINTED_LOOP_JOBS))
def test_checkpointed_loop_job_count(spark, graph, tmp_path, monkeypatch, call):
    """A checkpointed loop runs only the jobs durability needs: rounds
    between commits stay lazy, a commit's lineage comes from the parquet
    footers and its convergence probe rides on the commit write."""
    import json

    from accelerating_tc_spark.sources import snapshots

    _, canonical = graph
    probe_sums = []
    real_sum = supersteps._SumProbe._sum
    monkeypatch.setattr(
        supersteps._SumProbe, "_sum", lambda self, df: probe_sums.append(1) or real_sum(self, df)
    )
    fn, want_jobs = CHECKPOINTED_LOOP_JOBS[call]
    ckpt = str(tmp_path / "ckpt")
    sc = spark.sparkContext
    group = f"job-count-{call}"
    sc.setJobGroup(group, group)
    try:
        run = fn(spark, canonical, ckpt)
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == want_jobs
    # every committed CC round observed its sum on the write: the probe's
    # own aggregate ran once, over the initial state
    assert len(probe_sums) == (1 if call == "connected_components_run" else 0)

    log = snapshots.ParquetIterationLog(spark, ckpt)
    lines = [json.loads(x) for x in (tmp_path / "ckpt" / "lineage.jsonl").read_text().splitlines()]
    assert [x["iteration"] for x in lines] == list(range(run.iterations))
    committed = [x for x in lines if x["rows"] is not None]
    assert [x["iteration"] for x in committed] == log.completed()
    for x in committed:
        assert sum(x["partition_rows"].values()) == x["rows"] == log.read(x["iteration"]).count()
    assert all(x["partition_rows"] is None for x in lines if x["rows"] is None)


def test_hits_checkpoint_resume(spark, graph, tmp_path):
    """A 10-round run resumes a 4-round run's checkpoint dir, whose
    snapshots hold un-normalized scores, and matches a fresh 10-round run."""
    _, canonical = graph
    ckpt = str(tmp_path / "hits_ckpt")
    hits.hits_run(spark, canonical, n_iterations=4, checkpoint_dir=ckpt)
    resumed = hits.hits_run(spark, canonical, n_iterations=10, checkpoint_dir=ckpt)
    assert resumed.metrics[0].iteration == 4
    assert supersteps.latest_checkpoint(ckpt) == 9
    fresh = hits.hits(spark, canonical, n_iterations=10)
    r = {x["vertex"]: (x["hub"], x["auth"]) for x in resumed.state.collect()}
    f = {x["vertex"]: (x["hub"], x["auth"]) for x in fresh.collect()}
    assert set(r) == set(f)
    for v in f:
        assert r[v] == pytest.approx(f[v], rel=0, abs=1e-12), v


# Spark jobs of hits_run(n_iterations=10) on the `graph` fixture when every
# round ran three lineage cuts and two cross-joined L2 normalizers
HITS_JOBS_HAND_ROLLED = 185


def test_hits_job_count(spark, graph):
    """HITS runs one materialization and one two-norm aggregate per round:
    at most half the jobs of the hand-rolled loop."""
    _, canonical = graph
    sc = spark.sparkContext
    sc.setJobGroup("job-count-hits", "job-count-hits")
    try:
        hits.hits_run(spark, canonical, n_iterations=10)
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup("job-count-hits")) <= HITS_JOBS_HAND_ROLLED // 2


def test_lineage_cutter_bounds_chains_and_survives_close(spark, monkeypatch):
    """LineageCutter: every HARD_CUT_EVERY-th cut is a parquet hard cut whose
    scratch slots are unique (lazy refs to earlier cut states stay valid),
    and close(final) re-anchors the result so it outlives the scratch dir."""
    import os

    from pyspark.sql import functions as F

    from accelerating_tc_spark.operators import supersteps

    monkeypatch.setattr(supersteps, "HARD_CUT_EVERY", 3)
    cutter = supersteps.LineageCutter(spark, prefix="test-cutter-")
    state = spark.range(0, 100).select(F.col("id").alias("v"))
    kept = []
    for i in range(7):
        state = cutter.cut(state.select((F.col("v") + 1).alias("v")))
        kept.append(state)
    scratch = cutter.scratch
    assert scratch is not None and os.path.isdir(scratch)
    # unique slots: both hard cuts (i=2 and i=5) still readable
    assert len(os.listdir(scratch)) == 2
    assert kept[2].count() == 100 and kept[5].count() == 100
    final = cutter.close(state)
    assert not os.path.isdir(scratch)
    # final survives scratch removal and carries all 7 increments
    assert final.agg(F.min("v")).first()[0] == 7


def test_lineage_cutter_context_manager_cleans_on_exception(spark, monkeypatch):
    """`with LineageCutter(...)` removes the scratch dir when the body
    raises (the r4 leak: a failed deep cascade left parquet scratch on
    disk), and stays a no-op after an explicit close()."""
    import os

    from pyspark.sql import functions as F

    from accelerating_tc_spark.operators import supersteps

    monkeypatch.setattr(supersteps, "HARD_CUT_EVERY", 1)
    scratch_seen = None
    try:
        with supersteps.LineageCutter(spark, prefix="test-ctx-") as cutter:
            cutter.cut(spark.range(10).select(F.col("id").alias("v")))
            scratch_seen = cutter.scratch
            assert scratch_seen is not None and os.path.isdir(scratch_seen)
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert not os.path.isdir(scratch_seen)

    # success path: close(final) already cleaned; __exit__ must not break
    with supersteps.LineageCutter(spark, prefix="test-ctx2-") as cutter:
        st = cutter.cut(spark.range(5).select(F.col("id").alias("v")))
        final = cutter.close(st)
    assert final.count() == 5


def test_checkpoint_retention_keep_last_k(spark, tmp_path):
    """A 30-round checkpointed run with keep_checkpoints=3 retains at most
    3 iteration snapshots, and a resumed run continues from the newest
    surviving one (r5 verdict task 8)."""
    import os

    from accelerating_tc_spark.operators import supersteps
    from accelerating_tc_spark.sources import snapshots
    from pyspark.sql import functions as F

    ckpt = str(tmp_path / "ret_ckpt")
    initial = spark.range(5).select(F.col("id").alias("vertex"), F.lit(0).alias("val"))
    run = supersteps.iterate(
        spark,
        initial,
        step=lambda st, i: st.withColumn("val", F.col("val") + 1),
        max_iterations=30,
        checkpoint_dir=ckpt,
        keep_checkpoints=3,
    )
    assert run.iterations == 30
    iter_dirs = [n for n in os.listdir(ckpt) if n.startswith("iter=") and not n.endswith(".tmp")]
    assert len(iter_dirs) <= 3
    log = snapshots.ParquetIterationLog(spark, ckpt)
    assert log.latest() == 29
    assert log.completed() == [27, 28, 29]
    # resume continues from the newest surviving snapshot
    resumed = supersteps.iterate(
        spark,
        initial,
        step=lambda st, i: st.withColumn("val", F.col("val") + 1),
        max_iterations=32,
        checkpoint_dir=ckpt,
        keep_checkpoints=3,
    )
    vals = {r["vertex"]: r["val"] for r in resumed.state.collect()}
    assert vals == {v: 32 for v in range(5)}
    assert log.completed() == [29, 30, 31]


def test_prune_rejects_unsafe_keep(spark, tmp_path):
    from accelerating_tc_spark.sources import snapshots

    log = snapshots.ParquetIterationLog(spark, str(tmp_path / "p"))
    with pytest.raises(ValueError, match="keep_last"):
        log.prune(1)
