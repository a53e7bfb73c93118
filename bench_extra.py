"""Round-7 optimization harness: per-query isolation timing + plan capture.

NOT part of the driver contract (bench.py is frozen for measurement). This
file exists so the optimization round can (guide §1):
  - time each headline query in isolation (fresh session, min-of-N, noop-style
    terminal actions identical to bench.py's),
  - capture .explain("formatted") for every query shape we touch, into
    plans/r07/<query>_{before,after}.txt,
  - A/B a single query quickly without paying for the whole suite.

Usage:
  python bench_extra.py --plans plans/r07 --suffix before
  python bench_extra.py --time label_propagation5 [--rounds 3]
  python bench_extra.py --suite [--rounds 3]     # all 7, one session, same
                                                 # protocol as bench.py
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")


def _spark():
    from accelerating_tc_spark.session import get_spark

    return get_spark("bench_extra", cores=CPUS, shuffle_partitions=CPUS)


def _graph(spark):
    from accelerating_tc_spark.operators import prep
    from accelerating_tc_spark.sources import tpch_graph

    canonical = prep.canonicalize_edges(tpch_graph.copurchase_edges(spark, SF_DIR))
    canonical = canonical.repartition(spark.sparkContext.defaultParallelism, "src").cache()
    n_edges = canonical.count()
    return canonical, n_edges


def _explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def capture_plans(outdir: str, suffix: str) -> None:
    """Write .explain('formatted') for each headline query shape.

    Iterative queries (pagerank/cc/lp) are captured as ONE superstep's plan
    (step(init)) — the repeated unit the optimization targets; the full
    state plan after n rounds is just that unit chained."""
    from pyspark.sql import functions as F

    from accelerating_tc_spark.operators import (
        components,
        labelprop,
        pagerank,
        prep,
        triangles,
    )

    spark = _spark()
    canonical, n_edges = _graph(spark)
    os.makedirs(outdir, exist_ok=True)
    plans: dict[str, str] = {}

    oriented = prep.orient_by_degree(canonical)
    plans["orient"] = _explain_str(oriented)
    oriented = oriented.cache()
    oriented.count()

    from accelerating_tc_spark.operators.triangles import _blocked_partials

    partials, caches, nb = _blocked_partials(oriented)
    plans["tc_blocked"] = f"-- n_blocks={nb}\n" + _explain_str(
        partials.agg(F.coalesce(F.sum("triangles"), F.lit(0)).alias("t"))
    )
    for c in caches:
        c.unpersist()

    plans["tc_array_intersect"] = _explain_str(
        triangles.triangle_count_array_intersect(oriented)
    )

    # one superstep each: build the loop-invariant relations exactly as the
    # operator does, then explain one round's output
    plans["pagerank10_round"] = _pagerank_round_plan(spark, canonical)
    plans["connected_components_round"] = _cc_round_plan(spark, canonical)
    plans["label_propagation5_round"] = _lp_round_plan(spark, canonical)

    plans["degree_histogram"] = _explain_str(prep.degree_histogram(canonical))
    oriented.unpersist()
    spark.stop()

    for name, text in plans.items():
        p = Path(outdir) / f"{name}_{suffix}.txt"
        p.write_text(text)
        print(f"wrote {p}")


class _PlanCaptured(Exception):
    def __init__(self, df):
        self.df = df


def _captured_round_plan(run_operator) -> str:
    """Capture ONE superstep's plan from the operator's OWN code path: the
    superstep spine is intercepted so the first step(state, 0) DataFrame is
    explained exactly as the operator builds it (init materialized first,
    as iterate would). Tracks operator rewrites automatically — the plan
    file cannot drift from the code."""
    from accelerating_tc_spark.operators import supersteps

    real_iterate = supersteps.iterate

    def trap_iterate(spark, initial, step, *a, **kw):
        raise _PlanCaptured(step(initial.localCheckpoint(eager=True), 0))

    supersteps.iterate = trap_iterate
    try:
        run_operator()
        raise AssertionError("operator did not reach supersteps.iterate")
    except _PlanCaptured as cap:
        return _explain_str(cap.df)
    finally:
        supersteps.iterate = real_iterate


def _pagerank_round_plan(spark, canonical) -> str:
    from accelerating_tc_spark.operators import pagerank

    return _captured_round_plan(
        lambda: pagerank.pagerank_run(spark, canonical, n_iterations=10)
    )


def _cc_round_plan(spark, canonical) -> str:
    from accelerating_tc_spark.operators import components

    return _captured_round_plan(
        lambda: components.connected_components_run(spark, canonical)
    )


def _lp_round_plan(spark, canonical) -> str:
    from accelerating_tc_spark.operators import labelprop

    return _captured_round_plan(
        lambda: labelprop.label_propagation_run(spark, canonical, n_iterations=5)
    )


def _captured_round2_plan(run_operator) -> str:
    """Like _captured_round_plan but explains the SECOND round: operators
    whose init does not scan the loop's cached relation (kcore, scc) would
    otherwise capture the round-1-cold plan, where the not-yet-materialized
    AQE-cached relation reports UnknownPartitioning and the explain shows
    an Exchange that every steady-state round elides. Running round 1 first
    materializes the cache, so the captured plan is the repeated unit."""
    from accelerating_tc_spark.operators import supersteps

    real_iterate = supersteps.iterate

    def trap_iterate(spark, initial, step, *a, **kw):
        s1 = step(initial.localCheckpoint(eager=True), 0).localCheckpoint(eager=True)
        raise _PlanCaptured(step(s1, 1))

    supersteps.iterate = trap_iterate
    try:
        run_operator()
        raise AssertionError("operator did not reach supersteps.iterate")
    except _PlanCaptured as cap:
        return _explain_str(cap.df)
    finally:
        supersteps.iterate = real_iterate


def _ppr_round_plan(spark, canonical) -> str:
    # round 2: the teleport frame is cached but, like the walk's edge
    # relation, only first materialized by round 1
    from accelerating_tc_spark.operators import pagerank

    return _captured_round2_plan(
        lambda: pagerank.personalized_pagerank_run(spark, canonical, n_iterations=10)
    )


def _kcore_round_plan(spark, canonical) -> str:
    from accelerating_tc_spark.operators import kcore

    return _captured_round2_plan(lambda: kcore.core_numbers(spark, canonical))


def _scc_round_plan(spark, canonical) -> str:
    # the first supersteps.iterate SCC reaches is the inner min-label
    # fixpoint — the repeated unit the r7 broadcast-state rewrite targets
    from accelerating_tc_spark.operators import scc

    return _captured_round2_plan(
        lambda: scc.strongly_connected_components(spark, canonical)
    )


def _hits_round_plan(spark, canonical) -> str:
    # round 2: the edge table and its transpose are cached but only first
    # materialized by round 1
    from accelerating_tc_spark.operators import hits

    return _captured_round2_plan(lambda: hits.hits_run(spark, canonical, n_iterations=10))


def _bfs_round_plan(spark, canonical) -> str:
    """Round-3 expand plan of the hand-rolled BFS loop (LineageCutter.cut
    intercepted): by round 3 the visited state is the r7 LAZY union of cut
    frontiers, so the anti-join's union shape is visible in the plan."""
    from accelerating_tc_spark.operators import bfs, supersteps

    calls = {"n": 0}
    real_cut = supersteps.LineageCutter.cut

    def trap_cut(self, df):
        calls["n"] += 1
        if calls["n"] >= 3:
            raise _PlanCaptured(df)
        return real_cut(self, df)

    supersteps.LineageCutter.cut = trap_cut
    try:
        bfs.multi_source_distances(spark, canonical, sources=[0, 1, 2, 3])
        raise AssertionError("bfs never reached round 3")
    except _PlanCaptured as cap:
        return _explain_str(cap.df)
    finally:
        supersteps.LineageCutter.cut = real_cut


def capture_iter_plans(outdir: str, suffix: str) -> None:
    """Round plans for the non-headline iterative operators (personalized
    PageRank's seeded walk, kcore h-index, SCC min-label fixpoint, HITS
    half-steps, BFS frontier expand) — captured from the operators' own code
    paths like capture_plans."""
    spark = _spark()
    try:
        canonical, _ = _graph(spark)
        plans = {
            "personalized_pagerank_round": _ppr_round_plan(spark, canonical),
            "core_numbers_round": _kcore_round_plan(spark, canonical),
            "scc_fixpoint_round": _scc_round_plan(spark, canonical),
            "hits_round": _hits_round_plan(spark, canonical),
            "bfs_distances_round": _bfs_round_plan(spark, canonical),
        }
    finally:
        spark.stop()
    os.makedirs(outdir, exist_ok=True)
    for name, text in plans.items():
        p = Path(outdir) / f"{name}_{suffix}.txt"
        p.write_text(text)
        print(f"wrote {p}")


def run_suite(rounds: int) -> None:
    """Same protocol as bench.py's headline (min-of-N interleaved), same
    terminal actions, printed as one JSON line — for quick A/B during the
    round without touching the frozen bench.py."""
    import bench

    spark = _spark()
    t0 = time.time()
    times, extras, visits = bench.run_headline(spark, SF_DIR, rounds)
    wall = round(time.time() - t0, 3)
    spark.stop()
    print(
        json.dumps(
            {
                "metric": "bench_extra_suite",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "visits": visits,
                "wall_total": wall,
                "triangles": extras.get("triangles"),
            }
        )
    )


def time_one(name: str, rounds: int) -> None:
    """Isolated min-of-N timing for one headline query (fresh session)."""
    from pyspark.sql import functions as F

    from accelerating_tc_spark.operators import (
        components,
        labelprop,
        pagerank,
        prep,
        triangles,
    )

    spark = _spark()
    canonical, n_edges = _graph(spark)

    def once() -> tuple[float, object]:
        oriented = None
        if name in ("orient", "tc_blocked", "tc_array_intersect"):
            oriented = prep.orient_by_degree(canonical).cache()
        if name == "orient":
            t0 = time.time()
            out = oriented.count()
            dt = time.time() - t0
        elif name == "tc_blocked":
            oriented.count()
            t0 = time.time()
            out = triangles.triangle_count_blocked(oriented).collect()[0]["triangles"]
            dt = time.time() - t0
        elif name == "tc_array_intersect":
            oriented.count()
            t0 = time.time()
            out = triangles.triangle_count_array_intersect(oriented).collect()[0]["triangles"]
            dt = time.time() - t0
        elif name == "pagerank10":
            t0 = time.time()
            run = pagerank.pagerank_run(spark, canonical, n_iterations=10)
            out = run.state.count()
            dt = time.time() - t0
        elif name == "connected_components":
            t0 = time.time()
            run = components.connected_components_run(spark, canonical)
            out = run.state.count()
            dt = time.time() - t0
        elif name == "label_propagation5":
            t0 = time.time()
            run = labelprop.label_propagation_run(spark, canonical, n_iterations=5)
            out = run.state.count()
            dt = time.time() - t0
        elif name == "degree_histogram":
            t0 = time.time()
            out = prep.degree_histogram(canonical).agg(F.sum("n_vertices")).collect()
            dt = time.time() - t0
        else:
            raise ValueError(name)
        if oriented is not None:
            oriented.unpersist()
        return dt, out

    visits = []
    result = None
    for _ in range(rounds + 1):  # +1 warm-up pass, excluded by min anyway
        dt, out = once()
        visits.append(round(dt, 3))
        result = out
    spark.stop()
    print(
        json.dumps(
            {
                "query": name,
                "min_s": min(visits[1:]),
                "visits": visits,
                "result": str(result)[:80],
                "n_edges": n_edges,
            }
        )
    )


if __name__ == "__main__":
    argv = sys.argv[1:]
    if "--plans-iter" in argv:
        i = argv.index("--plans-iter")
        outdir = argv[i + 1]
        suffix = argv[argv.index("--suffix") + 1] if "--suffix" in argv else "before"
        capture_iter_plans(outdir, suffix)
    elif "--plans" in argv:
        i = argv.index("--plans")
        outdir = argv[i + 1]
        suffix = argv[argv.index("--suffix") + 1] if "--suffix" in argv else "before"
        capture_plans(outdir, suffix)
    elif "--time" in argv:
        i = argv.index("--time")
        rounds = int(argv[argv.index("--rounds") + 1]) if "--rounds" in argv else 3
        time_one(argv[i + 1], rounds)
    elif "--suite" in argv:
        rounds = int(argv[argv.index("--rounds") + 1]) if "--rounds" in argv else 3
        run_suite(rounds)
    else:
        print(__doc__)
