"""Multi-source BFS over a DIRECTED edge table — hop distances from a seed
set, and set-reachability (the building block the bow-tie decomposition
composes with SCC).

The reference's traversal surface is the undirected BFS-level reordering
(porder.cpp `bfsr_bisection`); the north star's link-graph tier needs the
DIRECTED primitive a crawl analyst actually runs: "how many clicks from the
seed list is every page?" and "which pages can the core reach?". Exposed as
first-class operators here.

Semantics (exact, and mirrored 1:1 by the recursive-CTE oracle):

- ``multi_source_distances``: (vertex, dist) with dist = length of the
  shortest directed path from ANY seed, restricted to dist <= max_depth.
  Unreached vertices are absent, not NULL — bounded-horizon BFS is the
  declared contract, so the bound is part of the semantics on BOTH the
  Spark and the oracle side.
- ``reachable_from``: the forward-closure membership set of a seed set,
  run to exhaustion (raises if the round budget cuts the fixpoint short —
  callers like bow-tie need the exact closure, not a prefix).

Scale posture: level-synchronous frontier expansion. Each round is one
hash-partitioned join (frontier x edges, keyed on src — the edge table is
pre-repartitioned once and cached, so every round reuses the same edge
shuffle instead of re-exchanging ~|E| rows) plus one anti-join against the
visited set; per-round shuffled bytes are O(|frontier| + |visited|), never
O(|E|). Rounds = min(max_depth, eccentricity of the seed set) — small on
web-shaped graphs. Lineage is cut through the shared LineageCutter spine
(a parquet hard cut every HARD_CUT_EVERY cuts) so the plan stays O(1)-deep
across deep traversals.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import supersteps


def _seed_frame(spark: SparkSession, sources) -> DataFrame:
    if isinstance(sources, DataFrame):
        return sources.select(F.col(sources.columns[0]).cast("long").alias("vertex")).distinct()
    if isinstance(sources, Iterable):
        return spark.createDataFrame(
            [(int(v),) for v in sources], "vertex long"
        ).distinct()
    raise TypeError(f"sources must be a DataFrame or iterable of ids, got {type(sources)}")


def multi_source_distances(
    spark: SparkSession,
    edges: DataFrame,
    sources,
    max_depth: int = 64,
    require_exhausted: bool = False,
) -> DataFrame:
    """(vertex, dist): shortest directed hop count from the seed set, for
    every vertex within max_depth hops (seeds themselves at dist 0). Seeds
    not present in the edge table still appear — a crawl seed list may
    contain pages the crawl never linked.

    With require_exhausted=True the frontier must empty within max_depth
    rounds or the call raises — use when the caller needs the FULL closure
    (bow-tie) rather than the bounded-horizon contract.
    """
    n_part = spark.sparkContext.defaultParallelism
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .distinct()
        .repartition(n_part, "src")
        .cache()
    )
    seeds = _seed_frame(spark, sources)

    def expand(frontier: DataFrame, state: DataFrame) -> DataFrame:
        return (
            e.join(frontier.withColumnRenamed("vertex", "src"), "src")
            .select(F.col("dst").alias("vertex"))
            .distinct()
            .join(state, "vertex", "left_anti")
        )

    with supersteps.LineageCutter(spark, prefix="bfs-cut-") as cutter:
        state = cutter.cut(seeds.select("vertex", F.lit(0).cast("long").alias("dist")))
        frontier = state.select("vertex")
        depth = 0
        while depth < max_depth:
            # cut first so the frame backing BOTH the emptiness probe and
            # next round's join is materialized exactly once per round
            nxt = cutter.cut(expand(frontier, state))
            if nxt.isEmpty():
                frontier = None
                break
            depth += 1
            # the visited set stays a LAZY union of the per-round cut
            # frontiers (r7): every leaf is already materialized, so the
            # anti-join scans the same |visited| rows either way, while the
            # old per-round cut of the union REWROTE the whole visited set
            # each round — O(rounds x |visited|) materialized bytes. Union
            # width is bounded by max_depth.
            state = state.unionByName(
                nxt.select("vertex", F.lit(depth).cast("long").alias("dist"))
            )
            if depth % 8 == 0:
                # periodic compaction bounds the union width (and hence
                # per-round planning cost) on deep traversals
                state = cutter.cut(state)
            frontier = nxt
        else:
            # budget exhausted: bounded semantics keeps the <= max_depth
            # rows, but exact-closure callers must not proceed if one MORE
            # round would still discover vertices
            if require_exhausted and not expand(frontier, state).isEmpty():
                e.unpersist()
                raise RuntimeError(
                    f"bfs: frontier still live after {max_depth} rounds; "
                    "closure is incomplete (raise max_depth)"
                )
        out = cutter.close(state)
        e.unpersist()
        return out


def reachable_from(
    spark: SparkSession,
    edges: DataFrame,
    sources,
    max_rounds: int = 200,
) -> DataFrame:
    """(vertex): every vertex with a directed path from the seed set
    (seeds included). Exact closure — raises rather than returning a
    truncated set if max_rounds is hit with a live frontier."""
    return multi_source_distances(
        spark, edges, sources, max_depth=max_rounds, require_exhausted=True
    ).select("vertex")


def bfs_oracle_sql(edges_cte: str, seed_mod: int, seed_rem: int, max_depth: int) -> str:
    """Bounded multi-source BFS as a recursive CTE.

    The recursion enumerates (vertex, walk-length <= max_depth) pairs —
    UNION dedups pairs so the state is finite (|V| x (max_depth+1) worst
    case) — and MIN(dist) collapses walks to shortest distances. Seeds are
    the fixture vertices with vertex % seed_mod = seed_rem, matching the
    Spark contract row.
    """
    return (
        edges_cte
        + f"""
, dedges AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)
, dverts AS (
  SELECT src AS vertex FROM dedges UNION SELECT dst AS vertex FROM dedges
)
, seeds AS (SELECT vertex FROM dverts WHERE vertex % {seed_mod} = {seed_rem})
, walk AS (
  WITH RECURSIVE w(vertex, dist) AS (
    SELECT vertex, 0 FROM seeds
    UNION
    SELECT e.dst, w.dist + 1
    FROM w JOIN dedges e ON e.src = w.vertex
    WHERE w.dist < {max_depth}
  )
  SELECT vertex, dist FROM w
)
SELECT vertex, MIN(dist)::BIGINT AS dist
FROM walk GROUP BY vertex ORDER BY vertex
"""
    )
