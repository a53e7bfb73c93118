"""Benchmark harness (driver contract).

Default: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

--scaling: run the flagship triangle-count job at two parallelism levels
(N=8 and 4N=32 cores by default) on the same input and report throughput at
both plus scaling efficiency — the sandbox translation of the north rule's
two-cluster-size criterion (see BASELINE.md). Results are appended to
BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# local mode = one JVM: size the (driver) heap for 32 executor threads.
# Measured sweet spot is ~16g — 64g made G1 pauses longer, 8g GC-throttles.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")


def _sf_label(sf_dir: str) -> float:
    base = os.path.basename(os.path.normpath(sf_dir))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def build_graph(spark, sf_dir):
    from accelerating_tc_spark.operators import prep
    from accelerating_tc_spark.sources import tpch_graph

    canonical = prep.canonicalize_edges(tpch_graph.copurchase_edges(spark, sf_dir))
    canonical = canonical.repartition(spark.sparkContext.defaultParallelism, "src").cache()
    n_edges = canonical.count()  # materialize once; graph build excluded from per-query times
    return canonical, n_edges


_CAL_SNIPPET = """
import numpy as np, time
n = 1024
rng = np.random.default_rng(7)
a = rng.random((n, n)); b = rng.random((n, n))
a @ b
best = float("inf")
for _ in range(5):
    t0 = time.perf_counter(); a @ b
    best = min(best, time.perf_counter() - t0)
print(round(2 * n**3 / best / 1e9, 1))
"""


def cpu_calibration() -> float:
    """Box-health probe: SINGLE-THREADED numpy matmul GFLOP/s, run in a
    fresh subprocess with BLAS pinned to 1 thread.

    Recorded BEFORE and AFTER the suite so a reader can separate box
    weather from code: this sandbox has shown identical-code 2x wall
    swings across runs (VERDICT r4). Measured design constraints: the
    multi-threaded probe swings 11-450 GFLOP/s within one session
    (thread-pool scheduling noise on the shared hypervisor) and is
    useless as a reference; the 1-thread n=1024 probe repeats at ~53+-2.
    A subprocess is the only reliable way to pin BLAS threads (numpy
    reads the env at import, and this process has Spark's JVM running)."""
    import subprocess

    env = dict(
        os.environ,
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
    )
    out = subprocess.run(
        [sys.executable, "-c", _CAL_SNIPPET], capture_output=True, text=True, env=env
    )
    try:
        return float(out.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return -1.0


def run_headline_once(spark, canonical, n_edges, extras) -> dict[str, float]:
    """One full pass over the headline queries; per-query walls.

    The degree orientation is rebuilt (and un-cached) every pass so each
    pass measures the same work; only the canonical edge table stays
    cached (graph build is excluded from per-query times by design)."""
    from pyspark.sql import functions as F

    from accelerating_tc_spark.operators import (
        components,
        labelprop,
        pagerank,
        prep,
        triangles,
    )

    times: dict[str, float] = {}

    def timed(name, fn):
        # job-group tag: the event-log work metrics (tools/workmetrics.py)
        # attribute every task of this query's jobs to `name`
        spark.sparkContext.setJobGroup(name, f"headline:{name}")
        t0 = time.time()
        out = fn()
        times[name] = round(time.time() - t0, 3)
        spark.sparkContext.setJobGroup("between", "headline bookkeeping")
        return out

    oriented = prep.orient_by_degree(canonical).cache()
    timed("orient", lambda: oriented.count())

    tri = timed(
        "tc_blocked",
        lambda: triangles.triangle_count_blocked(oriented).collect()[0]["triangles"],
    )
    timed(
        "tc_array_intersect",
        lambda: triangles.triangle_count_array_intersect(oriented).collect()[0]["triangles"],
    )

    def _pr():
        run = pagerank.pagerank_run(spark, canonical, n_iterations=10)
        run.state.count()
        return [m.wall_s for m in run.metrics]

    def _cc():
        run = components.connected_components_run(spark, canonical)
        run.state.count()
        return [m.wall_s for m in run.metrics]

    def _lp():
        run = labelprop.label_propagation_run(spark, canonical, n_iterations=5)
        run.state.count()
        return [m.wall_s for m in run.metrics]

    # per-round walls from this pass overwrite extras each pass, so the
    # published telemetry is the LAST pass's round shape (lazy unmetered
    # rounds report ~0 and their wall lands on the next lineage cut)
    extras["pagerank10_rounds"] = timed("pagerank10", _pr)
    extras["connected_components_rounds"] = timed("connected_components", _cc)
    extras["label_propagation5_rounds"] = timed("label_propagation5", _lp)
    timed(
        "degree_histogram",
        lambda: prep.degree_histogram(canonical).agg(F.sum("n_vertices")).collect(),
    )
    oriented.unpersist()

    extras.setdefault("triangles", tri)
    if extras["triangles"] != tri:
        raise AssertionError(
            f"triangle parity broke across passes: {extras['triangles']} != {tri}"
        )
    return times


def run_headline(spark, sf_dir: str, rounds: int) -> tuple[dict, dict, dict]:
    """Noise-robust headline protocol (r5): the whole suite is run
    `rounds` times in one session and each query reports its MINIMUM
    across passes, plus the full per-pass spread. Single-shot timing on
    this sandbox could not distinguish a regression from weather
    (identical code swung 22.7s -> 46.3s on label propagation, VERDICT
    r4); min-of-N over interleaved full passes gives every query a shot
    at each weather window, and the spread quantifies how unstable the
    window was. Pass 1 doubles as JIT/codegen warm-up — min ignores it."""
    canonical, n_edges = build_graph(spark, sf_dir)
    extras: dict = {"n_edges": n_edges}
    visits: dict[str, list[float]] = {}
    for _ in range(rounds):
        for name, sec in run_headline_once(spark, canonical, n_edges, extras).items():
            visits.setdefault(name, []).append(sec)
    times = {name: min(vs) for name, vs in visits.items()}
    extras["triangles_per_sec"] = (
        round(extras["triangles"] / times["tc_blocked"], 1) if times["tc_blocked"] else 0
    )
    from accelerating_tc_spark.operators.triangles import choose_n_blocks

    # the B tc_blocked ran: 1 when the broadcast-CSR route took the graph
    extras["tc_n_blocks_auto"] = choose_n_blocks(n_edges, spark.sparkContext.defaultParallelism)
    return times, extras, visits


def main() -> None:
    from accelerating_tc_spark.session import get_spark

    if "--scaling-single" in sys.argv:
        i = sys.argv.index("--scaling-single")
        cores = int(sys.argv[i + 1])
        n_v = int(sys.argv[i + 2]) if len(sys.argv) > i + 2 else SCALE_VERTICES
        n_e = int(sys.argv[i + 3]) if len(sys.argv) > i + 3 else SCALE_EDGES
        return scaling_single(cores, n_v, n_e)
    if "--scaling" in sys.argv:
        return run_scaling()
    if "--skew" in sys.argv:
        return run_skew()
    if "--cc-rounds" in sys.argv:
        return run_cc_rounds()
    if "--web" in sys.argv:
        return run_web()
    if "--dedup" in sys.argv:
        return run_dedup()
    if "--truss" in sys.argv:
        return run_truss()
    if "--stream" in sys.argv:
        return run_stream_volume()

    sys.path.insert(0, str(REPO / "tools"))
    from workmetrics import event_log_conf, parse_event_log

    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))
    cal_pre = cpu_calibration()
    log_dir, elog_conf = event_log_conf()
    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS, extra_conf=elog_conf)
    app_id = spark.sparkContext.applicationId
    t0 = time.time()
    times, extras, visits = run_headline(spark, SF_DIR, rounds)
    wall = round(time.time() - t0, 3)
    spark.stop()
    cal_post = cpu_calibration()
    # per-query WORK (summed task CPU / shuffle bytes per pass): the
    # regression gate walls can't give — an extra exchange or a lost
    # pushdown moves shuffle_write_mb even when walls are noisy
    work_all = parse_event_log(log_dir, app_id)
    extras["work_per_query"] = {
        q: {
            k: (v if k == "peak_task_mem_mb" else round(v / rounds, 3))
            for k, v in w.items()
        }
        for q, w in work_all.items()
        if q not in ("<ungrouped>", "between")
    }
    # value = sum of per-query minima: the noise-robust suite total.
    # wall_total (extras) is the raw session wall including all passes.
    total = round(sum(times.values()), 3)
    extras["wall_total"] = wall
    # spread ratio max/min per query: >1.2 means that query's window was
    # unstable and its min should be read with the calibration numbers
    spread = {
        q: round(max(vs) / max(min(vs), 1e-9), 2) for q, vs in visits.items()
    }
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": _sf_label(SF_DIR),
                "protocol": {
                    "rounds": rounds,
                    "stat": "min_per_query",
                    "visits": visits,
                    "spread_max_over_min": spread,
                    "calibration_gflops": {"pre": cal_pre, "post": cal_post},
                },
                "extras": extras,
            }
        )
    )


# Scaling input: deterministic distributed Zipf graph, dense enough that
# wedge-intersection compute dominates shuffle (a sparse graph is memory-
# bandwidth-bound, and memory bandwidth is SHARED on one box — it cannot
# show core-count scaling no matter how good the engine is).
SCALE_VERTICES = int(os.environ.get("SPARK_GRAFT_SCALE_V", str(100_000)))
SCALE_EDGES = int(os.environ.get("SPARK_GRAFT_SCALE_E", str(6_000_000)))
SCALE_ZIPF_S = float(os.environ.get("SPARK_GRAFT_SCALE_S", "0.5"))
# n_blocks: "auto" (default) lets each level derive B from its own core
# count + the adjacency size — the cal_part_num analog is now the primary
# configuration. Set an int (e.g. 8) to pin B across levels for
# cross-round comparability with the r1/r2 tables.
_SCALE_BLOCKS_RAW = os.environ.get("SPARK_GRAFT_SCALE_BLOCKS", "auto")
SCALE_BLOCKS = None if _SCALE_BLOCKS_RAW == "auto" else int(_SCALE_BLOCKS_RAW)


def scaling_single(cores: int, n_vertices: int | None = None, n_edges_req: int | None = None) -> None:
    """One measurement at a given core count (run in a fresh process so JVMs
    never share state across levels). Fixture size is per-LEG (see
    run_scaling): the 8->32 leg uses a 4x-larger graph so 32 cores are
    not starved — 6M edges finish in ~12s at 8 cores and leave 32 cores
    dominated by fixed per-stage overhead (r4 finding)."""
    from accelerating_tc_spark.operators import prep, triangles
    from accelerating_tc_spark.session import get_spark
    from accelerating_tc_spark.sources import synthetic

    sys.path.insert(0, str(REPO / "tools"))
    from workmetrics import event_log_conf, parse_event_log

    n_v = n_vertices or SCALE_VERTICES
    n_e = n_edges_req or SCALE_EDGES
    # Cluster-faithful memory provisioning (opt-in): the north rule scales
    # EXECUTORS N -> 4N, and every added executor brings its own memory —
    # per-core execution memory is constant on a real cluster. A fixed
    # local-JVM heap instead DIVIDES memory by the thread count (measured:
    # 16g/32 threads collapses peak task memory 1309 -> 344 MB and inflates
    # spill 1.45 -> 11.6 GB on the 24M-edge fixture), which penalizes the
    # higher level for a resource a cluster would actually have. Setting
    # SPARK_GRAFT_SCALE_MEM_PER_CORE_MB sizes each visit's heap as
    # cores x that many MB, holding memory-per-core constant across levels.
    mem_per_core = os.environ.get("SPARK_GRAFT_SCALE_MEM_PER_CORE_MB")
    driver_mem = f"{cores * int(mem_per_core)}m" if mem_per_core else os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", "16g"
    )
    if mem_per_core:
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    log_dir, elog_conf = event_log_conf()
    spark = get_spark(
        f"bench_scale_{cores}", cores=cores, shuffle_partitions=cores,
        extra_conf=elog_conf,
    )
    app_id = spark.sparkContext.applicationId
    raw = synthetic.zipf_edges_distributed(spark, n_v, n_e, s=SCALE_ZIPF_S)
    canonical = prep.canonicalize_edges(raw).cache()
    n_edges = canonical.count()
    deg = prep.degrees(canonical).cache()
    deg.count()
    oriented = prep.orient_by_degree(canonical, deg).cache()
    oriented.count()
    # Two warm-up runs first: codegen/JIT/worker-pool spin-up takes ~2 runs
    # to reach steady state and would swamp the comparison. Then min-of-3
    # measured runs — same job at both levels; n_blocks is auto-derived per
    # level (the primary protocol) unless SPARK_GRAFT_SCALE_BLOCKS pins it.
    # Graph prep (degrees, orientation) is cached outside the measured
    # window.
    chosen_b = triangles.choose_n_blocks(
        n_edges, spark.sparkContext.defaultParallelism, SCALE_BLOCKS
    )
    n_measures = int(os.environ.get("SPARK_GRAFT_SCALE_MEASURES", "2"))
    n_warmups = int(os.environ.get("SPARK_GRAFT_SCALE_WARMUPS", "2"))
    spark.sparkContext.setJobGroup("warmup", "scaling warm-up runs")
    for _ in range(n_warmups):
        triangles.triangle_count_blocked(oriented, n_blocks=SCALE_BLOCKS).collect()
    spark.sparkContext.setJobGroup("measure", "scaling measured runs")
    dt = float("inf")
    tri = 0
    for _ in range(n_measures):
        t0 = time.time()
        tri = triangles.triangle_count_blocked(oriented, n_blocks=SCALE_BLOCKS).collect()[0][
            "triangles"
        ]
        dt = min(dt, time.time() - t0)
    spark.stop()
    # scale-INVARIANT work axis (see tools/workmetrics.py): summed task CPU
    # time / shuffle bytes of ONE measured run — if these are flat across
    # core counts, the plan does no extra work at higher parallelism and
    # any wall gap is the box, not the engine
    work = parse_event_log(log_dir, app_id).get("measure", {})
    per_run = {
        k: (round(v / n_measures, 3) if isinstance(v, float) or k == "n_tasks" else v)
        for k, v in work.items()
        if k != "peak_task_mem_mb"
    }
    if "n_tasks" in per_run:
        per_run["n_tasks"] = round(per_run["n_tasks"], 1)
    if "peak_task_mem_mb" in work:
        per_run["peak_task_mem_mb"] = work["peak_task_mem_mb"]  # max, not a sum
    print(
        json.dumps(
            {
                "sec": round(dt, 3),
                "triangles": tri,
                "triangles_per_sec": round(tri / dt, 1),
                "n_edges": n_edges,
                "n_blocks": chosen_b,
                "driver_mem": driver_mem,
                "work_per_run": per_run,
            }
        )
    )


def _box_calibration(levels: str = "2,8,32") -> dict:
    """Run tools/box_calibration.py in a subprocess; {} on failure."""
    import subprocess

    try:
        out = subprocess.run(
            [sys.executable, str(REPO / "tools" / "box_calibration.py"), levels],
            capture_output=True,
            text=True,
            check=True,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])
    except Exception:
        return {}


def run_scaling() -> None:
    """North-rule criterion (N -> 4N throughput scaling efficiency >= 0.8),
    evidenced as two LEGS, each on a fixture sized to its larger level:

      leg 2->8  : the historical 100k-vertex / 6M-edge graph
      leg 8->32 : a 4x graph (200k vertices / 24M edges) — the r4 leg read
                  0.27-0.38 raw because 6M edges starve 32 cores (walls
                  12.3s -> 11.6s: fixed per-stage overhead, not compute)

    Within a leg the two levels are INTERLEAVED across
    SPARK_GRAFT_SCALE_ROUNDS (default 3) passes, each visit a fresh
    taskset-pinned subprocess, and each level takes its minimum — a
    sequential protocol couples the ratio to VM drift within the session
    (measured r4 session 4). Pure-CPU box calibration (N independent
    pinned counter processes) runs BEFORE and AFTER: the box itself only
    sustains ~0.63-0.9 from 8->32 on this sandbox, so each leg reports
    raw efficiency AND box-normalized efficiency (raw / box ceiling,
    capped at 1.0); triangle parity is asserted across every visit of a
    leg. `value` is the worst leg's best-evidence efficiency."""
    import shutil as _shutil
    import subprocess

    legs_spec = os.environ.get("SPARK_GRAFT_SCALE_LEGS", "2:8,8:32")
    rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "3"))
    legs = []
    for part in legs_spec.split(","):
        a, b = (int(x) for x in part.split(":"))
        # fixture scales with the leg's larger level: b=8 -> (1x V, 1x E),
        # b=32 -> (2x V, 4x E). Degree doubles with each 4x-edge step, so
        # the per-wedge intersection work grows too — the compute-bound
        # regime the criterion needs (see SCALE_* comment above).
        f = max(b, 8) // 8
        legs.append((a, b, SCALE_VERTICES * (2 if f >= 4 else 1), SCALE_EDGES * f))

    cal_levels = ",".join(sorted({str(x) for leg in legs for x in leg[:2]}, key=int))
    cal_pre = _box_calibration(cal_levels)
    leg_out = {}
    for a, b, n_v, n_e in legs:
        visits: dict[int, list[dict]] = {a: [], b: []}
        for _ in range(rounds):
            for cores in (a, b):
                # Pin the whole process tree (JVM, GC threads, Python
                # workers) to exactly `cores` CPUs — local[N] alone still
                # lets GC/shuffle/worker threads spill onto all CPUs,
                # inflating the small-N baseline.
                cmd = [
                    sys.executable, __file__,
                    "--scaling-single", str(cores), str(n_v), str(n_e),
                ]
                if _shutil.which("taskset"):
                    cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
                # one retry per visit: a JVM-level transient (e.g. a crashed
                # executor-thread JVM) must not abort the whole multi-hour
                # protocol; the failure itself is recorded so the session
                # ledger stays honest about what happened
                visit_row = None
                for attempt in (1, 2):
                    out = subprocess.run(cmd, capture_output=True, text=True)
                    if out.returncode == 0:
                        # rc=0 with empty/non-JSON stdout (e.g. a crashed
                        # JVM that still exited cleanly) is ALSO a failed
                        # attempt — same logged-tail + retry handling
                        lines = out.stdout.strip().splitlines()
                        try:
                            visit_row = json.loads(lines[-1]) if lines else None
                        except json.JSONDecodeError:
                            visit_row = None
                        if visit_row is not None:
                            break
                    sys.stderr.write(
                        f"[scaling] visit cores={cores} attempt {attempt} failed "
                        f"(rc={out.returncode}, parsed={visit_row is not None}); "
                        "stderr tail:\n"
                        + "\n".join(out.stderr.splitlines()[-15:])
                        + "\n"
                    )
                else:
                    raise RuntimeError(
                        f"scaling visit cores={cores} failed twice; see stderr above"
                    )
                visits[cores].append(visit_row)
        tris = {r["triangles"] for vs in visits.values() for r in vs}
        best = {c: min(vs, key=lambda r: r["sec"]) for c, vs in visits.items()}
        raw = round((best[a]["sec"] / best[b]["sec"]) / (b / a), 3)
        # work invariance: ratio of the larger level's per-run work to the
        # smaller's (best visit each). ~1.0 on every axis proves the plan
        # does the same work at both parallelism levels — the box-proof
        # scaling argument (r5 verdict task 1)
        wa = best[a].get("work_per_run") or {}
        wb = best[b].get("work_per_run") or {}
        work_inv = {
            k: round(wb[k] / wa[k], 3)
            for k in ("cpu_s", "shuffle_read_mb", "shuffle_write_mb", "n_tasks")
            if wa.get(k) and wb.get(k)
        }
        leg_out[f"{a}to{b}"] = {
            "cores": [a, b],
            "n_vertices": n_v,
            "n_edges": best[b]["n_edges"],
            "sec": {str(c): best[c]["sec"] for c in (a, b)},
            "triangles_per_sec": {str(c): best[c]["triangles_per_sec"] for c in (a, b)},
            "n_blocks": {str(c): best[c]["n_blocks"] for c in (a, b)},
            "driver_mem": {str(c): best[c].get("driver_mem") for c in (a, b)},
            "visits": {str(c): [r["sec"] for r in vs] for c, vs in visits.items()},
            "raw_eff": raw,
            "parity": len(tris) == 1,
            "triangles": best[b]["triangles"],
            "work_per_run": {str(c): (best[c].get("work_per_run") or {}) for c in (a, b)},
            "work_invariance": work_inv,
        }
    cal_post = _box_calibration(cal_levels)

    for key, leg in leg_out.items():
        ceilings = [
            c[f"eff_{key}"] for c in (cal_pre, cal_post) if f"eff_{key}" in c
        ]
        # normalize by the MEAN of pre/post ceilings; a ceiling >1 (box
        # measured super-linear = noise) never inflates the result
        if ceilings:
            ceil = min(1.0, sum(ceilings) / len(ceilings))
            leg["box_ceiling"] = round(ceil, 3)
            leg["norm_eff"] = round(min(1.0, leg["raw_eff"] / max(ceil, 1e-9)), 3)

    # criterion value: the worst leg's best evidence (raw if it already
    # clears, else box-normalized)
    crit = min(
        max(leg["raw_eff"], leg.get("norm_eff", leg["raw_eff"]))
        for leg in leg_out.values()
    )
    out = {
        "metric": "tc_scaling_efficiency",
        "value": crit,
        "unit": "ratio",
        "queries": {
            f"tc_blocked_{key}_local[{c}]": leg["sec"][str(c)]
            for key, leg in leg_out.items()
            for c in leg["cores"]
        },
        "sf": _sf_label(SF_DIR),
        "legs": leg_out,
        "calibration": {"pre": cal_pre, "post": cal_post},
        "parity": all(leg["parity"] for leg in leg_out.values()),
    }
    print(json.dumps(out))


def run_skew() -> None:
    """Skew evidence for the blocked TC: per-task kernel max/median seconds
    and wall time of the cogroup route (pinned B=16) on a planted-mega-hub
    Zipf graph, min of N runs after a warm-up."""
    from pyspark.sql import functions as F

    from accelerating_tc_spark.operators import prep, triangles
    from accelerating_tc_spark.session import get_spark
    from accelerating_tc_spark.sources import synthetic

    spark = get_spark("bench_skew", cores=CPUS, shuffle_partitions=CPUS)
    n_v = int(os.environ.get("SPARK_GRAFT_SKEW_V", str(200_000)))
    n_e = int(os.environ.get("SPARK_GRAFT_SKEW_E", str(2_000_000)))
    zipf = synthetic.zipf_edges_distributed(spark, n_v, n_e, s=1.0)
    # planted mega-hub: vertex 0 adjacent to every 4th vertex
    hub = spark.range(1, n_v, 4).select(
        F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
    )
    canonical = prep.canonicalize_edges(zipf.union(hub)).cache()
    n_edges = canonical.count()
    oriented = prep.orient_by_degree(canonical).cache()
    oriented.count()

    def measure_once():
        t0 = time.time()
        row = triangles.blocked_task_stats(oriented, n_blocks=16).collect()[0]
        return {
            "wall_s": round(time.time() - t0, 3),
            "triangles": row["triangles"],
            "n_tasks": row["n_tasks"],
            "max_task_s": row["max_task_s"],
            "median_task_s": row["median_task_s"],
            "skew_ratio": round(row["max_task_s"] / max(row["median_task_s"], 1e-9), 1),
        }

    rounds = int(os.environ.get("SPARK_GRAFT_SKEW_ROUNDS", "3"))
    measure_once()  # warm-up (codegen/JIT/worker pool)
    visits = [measure_once() for _ in range(rounds)]
    best = min(visits, key=lambda r: r["wall_s"])
    spark.stop()
    print(
        json.dumps(
            {
                "metric": "tc_blocked_skew",
                "value": best["max_task_s"],
                "unit": "sec",
                "queries": {
                    "cogroup_wall_s": best["wall_s"],
                    "max_task_s": best["max_task_s"],
                    "median_task_s": best["median_task_s"],
                },
                "sf": _sf_label(SF_DIR),
                "detail": best | {"n_edges": n_edges},
                "protocol": {
                    "rounds": rounds,
                    "stat": "min_wall_of_n",
                    "visits": [r["wall_s"] for r in visits],
                },
                "parity": len({r["triangles"] for r in visits}) == 1,
            }
        )
    )


def run_web() -> None:
    """Link-extraction front-end throughput (north-star ingest path): a
    distributed synthetic corpus -> extract_links -> pages_to_edges, with
    links/sec and pages/sec for the extraction stage alone."""
    from accelerating_tc_spark.session import get_spark
    from accelerating_tc_spark.sources import pages as P

    spark = get_spark("bench_web", cores=CPUS, shuffle_partitions=CPUS)
    n_sites = int(os.environ.get("SPARK_GRAFT_WEB_SITES", "12000"))
    pps = int(os.environ.get("SPARK_GRAFT_WEB_PPS", "10"))
    corpus = P.generate_pages_distributed(spark, n_sites, pps).cache()
    n_pages = corpus.count()

    # warm-up then min-of-3: extraction stage alone (normalize included)
    for _ in range(1):
        P.extract_links(corpus).count()
    ext = float("inf")
    n_links = 0
    for _ in range(3):
        t0 = time.time()
        n_links = P.extract_links(corpus).count()
        ext = min(ext, time.time() - t0)

    t0 = time.time()
    edges, _mapping = P.pages_to_edges(corpus)
    n_edges = edges.count()
    full = time.time() - t0
    spark.stop()
    print(
        json.dumps(
            {
                "metric": "web_links_per_sec",
                "value": round(n_links / ext, 1),
                "unit": "links/sec",
                "queries": {"extract_links_s": round(ext, 3), "pages_to_edges_s": round(full, 3)},
                "sf": _sf_label(SF_DIR),
                "detail": {
                    "n_pages": n_pages,
                    "n_links": n_links,
                    "n_edges": n_edges,
                    "pages_per_sec": round(n_pages / ext, 1),
                },
            }
        )
    )


def run_dedup() -> None:
    """MinHash+LSH dedup at volume: a >=100k-doc synthetic corpus with
    planted near-duplicate clusters; records candidate count, bucket-size
    distribution, verified pairs, group count, and wall time."""
    from pyspark.sql import functions as F

    from accelerating_tc_spark.operators import dedup
    from accelerating_tc_spark.session import get_spark

    spark = get_spark("bench_dedup", cores=CPUS, shuffle_partitions=CPUS)
    n_docs = int(os.environ.get("SPARK_GRAFT_DEDUP_DOCS", "100000"))
    docs = dedup.synthetic_near_dup_corpus(spark, n_docs).cache()
    n = docs.count()
    bands, rows_per_band = dedup.suggest_minhash_params(n, threshold=0.8)

    t0 = time.time()
    stats = dedup.minhash_dedup_stats(
        docs, threshold=0.8, k=bands * rows_per_band, bands=bands
    )
    pairs_wall = round(time.time() - t0, 3)
    t0 = time.time()
    n_groups = (
        dedup.near_dup_groups(spark, docs, threshold=0.8, bands=bands,
                              k=bands * rows_per_band)
        .select("group_id").distinct().count()
    )
    groups_wall = round(time.time() - t0, 3)
    spark.stop()
    print(
        json.dumps(
            {
                "metric": "minhash_dedup_100k",
                "value": pairs_wall,
                "unit": "sec",
                "queries": {"pairs_s": pairs_wall, "groups_s": groups_wall},
                "sf": _sf_label(SF_DIR),
                "detail": {
                    "n_docs": n,
                    "bands": bands,
                    "rows_per_band": rows_per_band,
                    **stats,
                    "n_groups": n_groups,
                    "docs_per_sec": round(n / pairs_wall, 1),
                },
            }
        )
    )


def run_truss() -> None:
    """Decremental vs full-recompute k-truss on a deep-peel fixture: the
    naive baseline recomputes EVERY surviving edge's support each round
    (wedge volume × rounds); the shipped decremental peel pays only
    dropped-edge-driven joins after the single initial support pass."""
    from pyspark.sql import functions as F

    from accelerating_tc_spark.operators import prep, truss
    from accelerating_tc_spark.session import get_spark
    from accelerating_tc_spark.sources import synthetic

    spark = get_spark("bench_truss", cores=CPUS, shuffle_partitions=CPUS)
    n_v = int(os.environ.get("SPARK_GRAFT_TRUSS_V", "30000"))
    n_e = int(os.environ.get("SPARK_GRAFT_TRUSS_E", "400000"))
    raw = synthetic.zipf_edges_distributed(spark, n_v, n_e, s=0.8)
    canonical = prep.canonicalize_edges(raw).cache()
    n_edges = canonical.count()
    k = int(os.environ.get("SPARK_GRAFT_TRUSS_K", "5"))

    def naive_ktruss() -> int:
        """The pre-round-3 loop: full support recompute per round."""
        current = canonical.localCheckpoint(eager=True)
        n_current, rounds = current.count(), 0
        while n_current:
            kept = (
                truss.edge_support(current)
                .where(F.col("support") >= k - 2)
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
            n_kept, rounds = kept.count(), rounds + 1
            if n_kept == n_current:
                return n_kept
            current, n_current = kept, n_kept
        return 0

    t0 = time.time()
    dec_edges = truss.ktruss(spark, canonical, k=k).count()
    dec_s = round(time.time() - t0, 3)
    t0 = time.time()
    naive_edges = naive_ktruss()
    naive_s = round(time.time() - t0, 3)
    # full decomposition cascade (opt-in): the level-jumping cascade's wall
    # and JOB COUNT, measured via a job group — the at-depth cost is
    # jobs × fixed overhead
    cascade = {}
    if os.environ.get("SPARK_GRAFT_TRUSS_CASCADE"):
        # Gap fixture: disjoint cliques of distinct sizes -> the truss
        # spectrum has LEVEL GAPS (a size-c clique peels at level c+1,
        # nothing in between), the shape where a stepwise cascade would burn
        # a probe per empty level and the min-support jump skips them all.
        # A smooth Zipf spectrum has a drop at nearly every level, so it
        # cannot show the jump; real graphs sit between the two.
        sizes = [
            int(x)
            for x in os.environ.get("SPARK_GRAFT_TRUSS_CLIQUES", "6,12,24,48").split(",")
        ]
        rows, base = [], 0
        for c in sizes:
            rows += [(base + i, base + j) for i in range(c) for j in range(i + 1, c)]
            base += c
        gap_edges = prep.canonicalize_edges(
            spark.createDataFrame(rows, "src long, dst long")
        ).cache()
        gap_edges.count()
        sc = spark.sparkContext
        tracker = sc.statusTracker()

        sc.setJobGroup("cascade_jump", "truss cascade")
        t0 = time.time()
        jump_rows = truss.truss_numbers(spark, gap_edges).collect()
        jump_s = round(time.time() - t0, 3)
        sc.setJobGroup("", "")
        cascade = {
            "cascade_jump_s": jump_s,
            "cascade_jump_jobs": len(tracker.getJobIdsForGroup("cascade_jump")),
            "cascade_clique_sizes": sizes,
            "n_truss_levels": len({r["truss"] for r in jump_rows}),
        }
    spark.stop()
    print(
        json.dumps(
            {
                "metric": "ktruss_decremental_ab",
                "value": dec_s,
                "unit": "sec",
                "queries": {
                    "decremental_s": dec_s,
                    "full_recompute_s": naive_s,
                    **{k_: v for k_, v in cascade.items() if k_.endswith("_s")},
                },
                "sf": _sf_label(SF_DIR),
                "detail": {
                    "n_edges": n_edges,
                    "k": k,
                    "truss_edges": dec_edges,
                    **cascade,
                },
                "parity": dec_edges == naive_edges,
            }
        )
    )


def run_stream_volume() -> None:
    """Incremental triangle maintenance at volume: ~1M edges in ~20 equal
    Δ batches. Records per-batch wall vs Δ size — the claim under test is
    that per-batch cost is Δ-proportional (the old-adjacency shuffle is
    semi-joined down to Δ's endpoints), so walls stay ~flat while the
    store grows 20x. Mid-stream, the maintainer is killed AFTER the
    state-commit but BEFORE publish (the staged-commit crash window) and a
    fresh maintainer recovers + replays; the final total must equal an
    independent batch count of the full edge set."""
    import json as _json
    import shutil as _shutil
    import tempfile

    from pyspark.sql import functions as F

    from accelerating_tc_spark.operators import prep, triangles
    from accelerating_tc_spark.session import get_spark
    from accelerating_tc_spark.sources import synthetic
    from accelerating_tc_spark.streaming import edges as stream_edges

    spark = get_spark("bench_stream", cores=CPUS, shuffle_partitions=CPUS)
    v = int(os.environ.get("SPARK_GRAFT_STREAM_V", "200000"))
    e = int(os.environ.get("SPARK_GRAFT_STREAM_E", "1000000"))
    n_batches = int(os.environ.get("SPARK_GRAFT_STREAM_BATCHES", "20"))
    crash_at = n_batches // 2

    raw = synthetic.zipf_edges_distributed(spark, v, e, s=0.5)
    # deterministic batch split by edge hash
    batched = raw.withColumn(
        "b", F.pmod(F.xxhash64("src", "dst"), F.lit(n_batches))
    ).cache()
    n_raw = batched.count()

    work = tempfile.mkdtemp(prefix="bench-stream-")
    state_dir = os.path.join(work, "state")
    per_batch = []
    m = stream_edges.TriangleMaintainer(spark, state_dir)
    for b in range(n_batches):
        delta_raw = batched.where(F.col("b") == b).select("src", "dst")
        if b == crash_at:
            # staged-commit crash window: stage Δ + commit state, no publish
            delta_c = prep.canonicalize_edges(delta_raw)
            new_edges = delta_c.join(m._store(), ["src", "dst"], "left_anti")
            t0 = time.time()
            n_new = new_edges.count()
            new_edges.write.mode("overwrite").parquet(m._pending_dir(b))
            t_new = stream_edges._count_new_triangles(spark, m._store(), spark.read.parquet(m._pending_dir(b)))
            st = m.totals()
            st.update(
                triangles=st["triangles"] + t_new,
                edges=st["edges"] + n_new,
                batches=st["batches"] + 1,
                last_batch_id=b,
            )
            with open(m.state_path, "w") as fh:
                _json.dump(st, fh)
            # "crash" here: no publish. Fresh maintainer must recover.
            m = stream_edges.TriangleMaintainer(spark, state_dir)
            m.process_batch(delta_raw, b)  # replay of committed batch: no-op
            per_batch.append(
                {"batch": b, "delta": n_new, "wall_s": round(time.time() - t0, 3),
                 "crash_resume": True}
            )
            continue
        t0 = time.time()
        m.process_batch(delta_raw, b)
        per_batch.append(
            {"batch": b,
             "delta": int(batched.where(F.col("b") == b).count()),
             "wall_s": round(time.time() - t0, 3)}
        )
    totals = m.totals()

    # independent full-batch oracle over everything delivered
    canonical = prep.canonicalize_edges(batched.select("src", "dst"))
    expected_tri = int(
        triangles.count_triangles(canonical, strategy="blocked").first()["triangles"]
    )
    expected_edges = canonical.count()
    _shutil.rmtree(work, ignore_errors=True)
    spark.stop()

    walls = [p["wall_s"] for p in per_batch if not p.get("crash_resume")]
    first3 = sum(walls[:3]) / 3
    last3 = sum(walls[-3:]) / 3
    print(
        json.dumps(
            {
                "metric": "stream_tc_volume",
                "value": round(last3 / first3, 3),
                "unit": "late_vs_early_batch_wall_ratio",
                "queries": {"total_stream_s": round(sum(p["wall_s"] for p in per_batch), 3)},
                "sf": _sf_label(SF_DIR),
                "parity": totals["triangles"] == expected_tri
                and totals["edges"] == expected_edges,
                "detail": {
                    "n_raw_edges": n_raw,
                    "n_batches": n_batches,
                    "triangles": totals["triangles"],
                    "expected_triangles": expected_tri,
                    "edges": totals["edges"],
                    "expected_edges": expected_edges,
                    "per_batch": per_batch,
                },
            }
        )
    )


def run_cc_rounds() -> None:
    """High-diameter round-count evidence: pointer-jumping CC on a path
    graph, whose diameter would cost plain min-label propagation n - 1
    rounds."""
    from pyspark.sql import functions as F

    from accelerating_tc_spark.operators import components
    from accelerating_tc_spark.session import get_spark

    spark = get_spark("bench_cc", cores=CPUS, shuffle_partitions=CPUS)
    n = int(os.environ.get("SPARK_GRAFT_CC_PATH_N", "4096"))
    path = spark.range(0, n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    t0 = time.time()
    jump = components.connected_components_run(spark, path, max_iterations=64)
    jump_s = round(time.time() - t0, 3)
    spark.stop()
    print(
        json.dumps(
            {
                "metric": "cc_rounds_path_graph",
                "value": jump.iterations,
                "unit": "rounds",
                "queries": {"jump_rounds": jump.iterations, "jump_s": jump_s},
                "sf": _sf_label(SF_DIR),
                "detail": {"path_vertices": n, "jump_converged": jump.converged},
            }
        )
    )


if __name__ == "__main__":
    main()
