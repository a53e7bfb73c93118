"""Composed pages->edges->TC/PR/CC pipeline: correctness + kill/resume
across the pages->edges boundary (the north rule's resumability claim for
the full chain, not just individual superstep loops)."""

from __future__ import annotations

import os

import pytest

from accelerating_tc_spark.plans import pipeline
from accelerating_tc_spark.sources import pages as P
from accelerating_tc_spark.sources import snapshots


def _corpus(spark):
    return P.generate_pages_distributed(spark, n_sites=4, pages_per_site=5)


def test_pipeline_end_to_end_values(spark, tmp_path):
    """Summary agrees with independently-computed graph facts."""
    import numpy as np

    from accelerating_tc_spark.sources import synthetic

    rows = pipeline.web_graph_pipeline(
        spark, lambda: _corpus(spark), str(tmp_path / "wd"), pr_iterations=4
    ).collect()
    edges_df = snapshots.read_table(spark, str(tmp_path / "wd" / "edges"))
    pairs = [(r["src"], r["dst"]) for r in edges_df.collect()]
    expected_tri = synthetic.numpy_triangle_count(pairs)
    n_vertices = len({v for e in pairs for v in e})
    assert len(rows) == n_vertices
    assert all(r["triangles"] == expected_tri for r in rows)
    assert all(r["n_edges"] == len(set(pairs)) for r in rows)
    # ranks form a distribution over the vertex set
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-3
    # the crawl corpus is link-connected: one component rooted at vertex 0
    assert {r["component"] for r in rows} == {0}
    assert np.all([r["rank"] > 0 for r in rows])


def test_pipeline_resumes_without_rereading_pages(spark, tmp_path):
    """Once the edge table is committed, a rerun must not touch the page
    source: the corpus thunk is poisoned and the results must still match
    the first run exactly (PR/CC resume from their superstep checkpoints)."""
    wd = str(tmp_path / "wd")
    calls: list[int] = []

    def corpus_fn():
        calls.append(1)
        return _corpus(spark)

    first = sorted(
        tuple(r)
        for r in pipeline.web_graph_pipeline(spark, corpus_fn, wd, pr_iterations=3).collect()
    )
    assert calls == [1]

    def poisoned():
        raise AssertionError("resume must not re-read the page source")

    second = sorted(
        tuple(r)
        for r in pipeline.web_graph_pipeline(spark, poisoned, wd, pr_iterations=3).collect()
    )
    assert first == second


def test_pipeline_restarts_stage1_after_partial_write(spark, tmp_path):
    """A crash mid-stage-1 (edge dir exists but no _SUCCESS marker) must
    re-run extraction — the marker, not the directory, is the commit."""
    wd = tmp_path / "wd"
    partial = wd / "edges"
    partial.mkdir(parents=True)
    (partial / "part-00000.parquet.tmp").write_bytes(b"junk")
    assert not snapshots.is_complete(str(partial))
    calls: list[int] = []

    def corpus_fn():
        calls.append(1)
        return _corpus(spark)

    rows = pipeline.web_graph_pipeline(spark, corpus_fn, str(wd), pr_iterations=2).collect()
    assert calls == [1] and len(rows) > 0
    assert snapshots.is_complete(str(partial))


def test_pipeline_resumes_mid_iteration(spark, tmp_path):
    """Kill between PageRank supersteps: a run that completed only the edge
    commit + a few PR iterations continues from its checkpoint (start
    iteration > 0) and lands on the same fixpoint as an uninterrupted run."""
    from accelerating_tc_spark.operators.supersteps import latest_checkpoint

    wd = str(tmp_path / "wd")
    pipeline.web_graph_pipeline(spark, lambda: _corpus(spark), wd, pr_iterations=3)
    assert latest_checkpoint(os.path.join(wd, "pr_ckpt")) == 2
    resumed = pipeline.web_graph_pipeline(
        spark, lambda: pytest.fail("source re-read"), wd, pr_iterations=8
    )
    fresh = pipeline.web_graph_pipeline(
        spark, lambda: _corpus(spark), str(tmp_path / "wd2"), pr_iterations=8
    )
    r = {x["vertex"]: x["rank"] for x in resumed.collect()}
    f = {x["vertex"]: x["rank"] for x in fresh.collect()}
    assert r == f


def test_pipeline_rerun_returns_committed_summary(spark, tmp_path, monkeypatch):
    """A rerun on a completed work dir returns the committed summary: it
    reads no pages and runs neither the triangle count nor either loop,
    and neither call leaves a cached DataFrame behind."""
    from accelerating_tc_spark.operators import components, pagerank, triangles

    wd = str(tmp_path / "wd")
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    before = cache_manager.numCachedEntries()
    first = sorted(
        tuple(r)
        for r in pipeline.web_graph_pipeline(
            spark, lambda: _corpus(spark), wd, pr_iterations=3
        ).collect()
    )
    assert cache_manager.numCachedEntries() == before

    calls: list[str] = []
    for mod, name in (
        (triangles, "triangle_count_blocked"),
        (pagerank, "pagerank"),
        (components, "connected_components"),
    ):
        monkeypatch.setattr(mod, name, lambda *a, _n=name, **k: calls.append(_n))

    def poisoned():
        raise AssertionError("a rerun must not read the page source")

    second = sorted(
        tuple(r) for r in pipeline.web_graph_pipeline(spark, poisoned, wd, pr_iterations=3).collect()
    )
    assert cache_manager.numCachedEntries() == before
    assert calls == []
    assert first == second and len(first) > 0
