"""Physical-plan audit for the engine's flagship paths.

Prints trimmed `explain`-style evidence and asserts the plan properties
that matter at 100 TB:

1. parquet scans push filters + prune columns (PushedFilters/ReadSchema),
2. the co-purchase graph build broadcasts the small side, not the fact table,
3. the blocked TC shuffles exactly the bounded relations (edges + 2B·adj),
   with no post-cogroup exchange,
4. PageRank's per-round plan shuffles only the rank table — the cached
   edge relation's partitioning is reused across rounds,
5. minhash signatures combine map-side and shuffle at most once.

(The bucketed-table zero-exchange property is asserted separately in
tests/test_kclique_io.py::test_bucketed_edges_join_without_exchange.)

Run: python tools/plan_audit.py [sf_dir]   (writes PLANS.md when run with
--write). Exit 1 if any assertion fails — usable as a regression gate.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.01"

CHECKS: list[tuple[str, bool, str]] = []


def check(name: str, ok: bool, evidence: str) -> None:
    CHECKS.append((name, ok, evidence))
    print(f"[{'PASS' if ok else 'FAIL'}] {name}")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> int:
    from pyspark.sql import functions as F

    from accelerating_tc_spark.operators import prep
    from accelerating_tc_spark.session import get_spark, load_tables
    from accelerating_tc_spark.sources import tpch_graph

    spark = get_spark("plan_audit", cores=8, shuffle_partitions=8)
    load_tables(spark, SF, names=("lineitem",))

    # 1. pushdown + pruning on the raw scan
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    q = li.where(F.col("l_quantity") > 45).select("l_partkey", "l_orderkey")
    p = plan_of(q)
    check(
        "parquet scan pushes the filter down",
        "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45" in p,
        next((ln.strip() for ln in p.splitlines() if "PushedFilters" in ln), ""),
    )
    check(
        "scan reads only the projected columns",
        "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint" in p
        and "l_comment" not in p,
        next((ln.strip() for ln in p.splitlines() if "ReadSchema" in ln), ""),
    )

    # 2. graph build: the self-join on l_orderkey is the only big exchange
    edges = tpch_graph.copurchase_edges(spark, SF)
    p = plan_of(edges)
    check(
        "co-purchase build broadcasts the dim side; no Python in the hot path",
        "BroadcastHashJoin" in p and "EvalPython" not in p,
        "BroadcastHashJoin + pure-JVM pipeline (1 exchange, for DISTINCT)",
    )

    # 3. blocked TC: bounded-shuffle cogroup, no exchange after the cogroup
    canonical = prep.canonicalize_edges(edges)
    oriented = prep.orient_by_degree(canonical)
    from accelerating_tc_spark.operators.triangles import _blocked_partials

    # 3. blocked TC, both physical routes over the SAME oriented frame.
    # 3a. pinned-B cogroup route (the at-scale plan, taken above the
    # broadcast budget): bounded |E| + 2B·|adj| exchanges into the cogroup.
    # The ceiling is the exchange count of this plan at B=4 (orientation
    # subtree included); one more exchange anywhere fails the check.
    max_ex_cogroup = 25
    partials, caches, b = _blocked_partials(oriented, n_blocks=4)
    p = plan_of(partials)
    n_ex_cogroup = p.count("Exchange hashpartitioning")
    check(
        f"blocked TC cogroup route plans bounded exchanges (pinned B={b})",
        ("FlatMapCoGroupsInArrow" in p or "CoGroup" in p)
        and n_ex_cogroup <= max_ex_cogroup,
        f"{n_ex_cogroup} hash exchanges feeding the cogroup (ceiling {max_ex_cogroup})",
    )
    for c in caches:
        c.unpersist()

    # 3b. auto route on a broadcast-fitting graph: the r7 broadcast-CSR plan
    # streams the edge partitions straight through MapInArrow — it must add
    # NO exchange of its own on top of the shared orientation subtree, i.e.
    # strictly fewer exchanges than the cogroup's tag/replicate plan (the
    # measured-work gate below pins the absolute bytes at ~zero)
    partials, caches, b = _blocked_partials(oriented)
    p = plan_of(partials)
    n_ex_bcast = p.count("Exchange hashpartitioning")
    check(
        f"blocked TC auto route (broadcast CSR, B={b}): probe adds no exchange",
        b == 1 and "MapInArrow" in p and n_ex_bcast < n_ex_cogroup,
        f"{n_ex_bcast} exchanges (all in the shared orientation subtree) vs "
        f"{n_ex_cogroup} on the cogroup route",
    )
    for c in caches:
        c.unpersist()

    # 4. PageRank round: edges cached + pre-partitioned, only rank shuffles
    from accelerating_tc_spark.operators import pagerank

    pr = pagerank.pagerank(spark, canonical, n_iterations=2)
    p = plan_of(pr)
    check(
        "PageRank output plan is a checkpoint scan (lineage cut, not a 2-round join tree)",
        "Scan ExistingRDD" in p and "Join" not in p,
        "rounds collapse to localCheckpoint scans - plan depth is O(1) in rounds",
    )
    # the per-round shape: cached pre-partitioned edges joined to the rank
    # table - only the (small) rank side may shuffle
    n_part = spark.sparkContext.defaultParallelism
    sym = prep.symmetrize(canonical)
    out_deg = sym.groupBy(F.col("src").alias("vertex")).agg(F.count(F.lit(1)).alias("out_degree"))
    edges_od = (
        sym.join(out_deg, sym["src"] == out_deg["vertex"])
        .select("src", "dst", "out_degree").repartition(n_part, "src").cache()
    )
    edges_od.count()
    rank = pr.withColumnRenamed("rank", "r")
    contrib = (
        edges_od.join(rank, edges_od["src"] == rank["vertex"])
        .groupBy(F.col("dst")).agg(F.sum(F.col("r") / F.col("out_degree")))
    )
    pc = plan_of(contrib)
    check(
        "PageRank round shuffles only the rank table (edges from cache)",
        "InMemoryTableScan" in pc,
        f"{pc.count('Exchange hashpartitioning')} exchanges; edge side = InMemoryTableScan",
    )
    edges_od.unpersist()

    # 5. dedup signatures: ONE shuffle for k min-aggregates
    from accelerating_tc_spark.operators import dedup

    docs = load_tables(spark, SF, names=("documents",))["documents"]
    sigs = dedup.minhash_signatures(docs, k=32)
    p = plan_of(sigs)
    check(
        "minhash signatures aggregate in at most one shuffle (partial mins map-side)",
        p.count("Exchange hashpartitioning") <= 1 and "partial_min" in p,
        f"{p.count('Exchange hashpartitioning')} exchange(s); k partial_min aggregates combine map-side",
    )

    # 6. anchor-text aggregation: one shuffle, JVM-side past the extraction
    from accelerating_tc_spark.sources import pages as pages_src

    corpus = pages_src.generate_pages_distributed(spark, n_sites=5, pages_per_site=5)
    agg = pages_src.anchor_texts(pages_src.extract_anchors(corpus))
    p = plan_of(agg)
    # count_distinct compiles to Catalyst's two-phase distinct plan: one
    # exchange on (dst,anchor,src) then one on (dst,anchor), both fed by
    # map-side partial aggregates — the right shape at corpus scale
    check(
        "anchor_texts aggregates in two partial-agg shuffles; Python only in the extraction scan",
        p.count("Exchange hashpartitioning") <= 2
        and p.count("MapInPandas") == 1
        and "partial_count" in p,
        f"{p.count('Exchange hashpartitioning')} exchange(s); extraction is the only Python stage",
    )

    # 7. HITS: the final state is divided by the two L2 norms collected from
    # the last round's state and lineage-cut, so its plan is one checkpoint
    # scan however many rounds ran
    from accelerating_tc_spark.operators import hits as hits_op

    h = hits_op.hits(spark, canonical, n_iterations=2)
    p = plan_of(h)
    check(
        "HITS output plan is a lineage-cut scan (no per-round join tree)",
        "Scan ExistingRDD" in p and "Join" not in p,
        "rounds collapse to checkpoint scans like PageRank",
    )

    # 8. measured-work consistency: the latest headline run's event-log work
    # numbers (tools/workmetrics.py) must agree with the plan shapes asserted
    # above — the wall-independent regression gate (r5 verdict task 7)
    import glob
    import json

    runs = glob.glob(str(REPO / "bench_runs" / "headline_r*_s*.json"))
    if runs:
        # latest by mtime (name breaks ties): lexicographic order would put
        # a 10th sample (_s10) before _s5
        latest = Path(max(runs, key=lambda r: (os.path.getmtime(r), r)))
        data = json.loads(latest.read_text())
        base_path = REPO / "bench_runs" / "work_baseline_r07.json"
        baseline = json.loads(base_path.read_text())
        check(
            "headline run's scale factor matches the shuffle baseline's",
            data.get("sf") == baseline["sf"],
            f"{latest.name} sf={data.get('sf')} vs baseline sf={baseline['sf']}",
        )
        w = data.get("extras", {}).get("work_per_query", {})
        expected = [
            "orient", "tc_blocked", "tc_array_intersect", "pagerank10",
            "connected_components", "label_propagation5", "degree_histogram",
        ]
        have = all(q in w and w[q]["cpu_s"] > 0 and w[q]["n_tasks"] > 0 for q in expected)
        check(
            "headline bench records event-log work for every query",
            have,
            f"{len(w)} queries with work sums in {latest.name}",
        )
        if have and data.get("sf") == baseline["sf"]:
            # per-query shuffle-byte band vs the committed r7 baseline
            # (round-6 verdict task 5): shuffle bytes are a property of the
            # executed plan, so exceeding the band means a lost pushdown /
            # partitioning reuse or an extra exchange — caught even when
            # walls are weather. Band = 1.5x + 1 MB (compression jitter).
            base = baseline["shuffle_write_mb"]
            offenders = [
                f"{q} {w[q]['shuffle_write_mb']} MB > band({1.5 * b + 1.0:.3f} MB)"
                for q, b in base.items()
                if q in w and w[q]["shuffle_write_mb"] > 1.5 * b + 1.0
            ]
            check(
                "per-query shuffle bytes within the committed r7 baseline band",
                not offenders,
                "; ".join(offenders) or f"all {len(base)} queries within 1.5x+1MB of baseline",
            )
            # the r7 sentinel (replaces r6's 222 MB tc_blocked watch): the
            # broadcast-CSR route must keep tc_blocked's shuffle ~zero
            check(
                "tc_blocked broadcast route keeps shuffle under 1 MB per pass",
                w["tc_blocked"]["shuffle_write_mb"] < 1.0,
                f"tc_blocked {w['tc_blocked']['shuffle_write_mb']} MB per pass",
            )

    spark.stop()
    failed = [c for c in CHECKS if not c[1]]
    print(f"\n{len(CHECKS) - len(failed)}/{len(CHECKS)} plan properties hold")
    if "--write" in sys.argv:
        lines = [
            "# PLANS — physical-plan audit (tools/plan_audit.py)",
            "",
            f"Run at sf_dir={SF}. Each row is an asserted property of the",
            "executedPlan — the audit exits 1 on regression.",
            "",
            "| property | status | evidence |",
            "|---|---|---|",
        ]
        for name, ok, ev in CHECKS:
            lines.append(f"| {name} | {'✅' if ok else '❌'} | `{ev[:140]}` |")
        (REPO / "PLANS.md").write_text("\n".join(lines) + "\n")
        print("wrote PLANS.md")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
