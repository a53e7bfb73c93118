"""k-truss decomposition: the edge-level analog of k-core.

The k-truss is the maximal subgraph in which every edge closes at least
k-2 triangles WITHIN the subgraph (Cohen 2008 — public definition). The
reference has vertex peeling (A-direction / k-core); this extends the
family to edge peeling over the same DataFrame spine.

Algorithm — DECREMENTAL support maintenance (reference-peel style): the
per-edge support |N(u) ∩ N(v)| is computed ONCE (edge_support); each peel
round then only subtracts the support destroyed by that round's dropped
edges. A triangle dies when its first edge drops, and every one of its
surviving edges loses exactly 1 support:

- 1 dropped edge (u,v): each w ∈ N_surv(u) ∩ N_surv(v) names a destroyed
  triangle whose OTHER two edges (u,w), (v,w) both survive — each -1,
- 2 dropped edges meeting at c: the wedge's closing edge (a,b), if it
  survives, loses 1 (counted once, at the unique shared center),
- 3 dropped edges: nothing surviving to decrement.

Per-round cost is therefore ∝ |dropped| × degree (the dropped-driven
joins) plus one adjacency rebuild over survivors — never the full wedge
volume of the surviving graph, which the naive recompute pays every round.
`truss_numbers` carries the maintained supports across the k cascade, so
the whole decomposition computes supports exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import prep, supersteps

def _empty_arr() -> F.Column:
    return F.array().cast("array<long>")


def edge_support(canonical: DataFrame) -> DataFrame:
    """(src, dst, support): triangles through each canonical edge."""
    sym = prep.symmetrize(canonical)
    # collect_list: sym rows are distinct (canonical edges symmetrized),
    # so the per-group hash-set dedup of collect_set is pure overhead (r7)
    adj = sym.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
    a_u = adj.withColumnRenamed("nbrs", "nbrs_u")
    a_v = adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("nbrs_v"))
    return (
        canonical.join(a_u, "src")
        .join(a_v, "dst")
        .select(
            "src",
            "dst",
            F.size(F.array_intersect("nbrs_u", "nbrs_v")).alias("support"),
        )
    )


def _support_decrements(dropped: DataFrame, survivors: DataFrame) -> DataFrame:
    """(src, dst, dec): per SURVIVING edge, how many of its triangles were
    destroyed by `dropped` (both inputs canonical src<dst, disjoint)."""
    sym_s = prep.symmetrize(survivors)
    adj_s = sym_s.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
    a_u = adj_s.withColumnRenamed("nbrs", "nbrs_u")
    a_v = adj_s.select(F.col("src").alias("dst"), F.col("nbrs").alias("nbrs_v"))

    # triangles with exactly ONE dropped edge: third vertex w lies in the
    # SURVIVOR adjacency of both endpoints; each of the two surviving edges
    # (u,w), (v,w) loses one triangle
    tri1 = (
        dropped.join(a_u, "src", "left")
        .join(a_v, "dst", "left")
        .select(
            "src",
            "dst",
            F.explode(
                F.array_intersect(
                    F.coalesce(F.col("nbrs_u"), _empty_arr()),
                    F.coalesce(F.col("nbrs_v"), _empty_arr()),
                )
            ).alias("w"),
        )
    )
    d1 = tri1.select(
        F.least("src", "w").alias("src"), F.greatest("src", "w").alias("dst")
    ).unionAll(
        tri1.select(
            F.least("dst", "w").alias("src"), F.greatest("dst", "w").alias("dst")
        )
    )

    # triangles with TWO dropped edges: a wedge of dropped edges at center c
    # whose closing edge survives — counted once at the unique shared center
    sym_d = prep.symmetrize(dropped)
    e1 = sym_d.select(F.col("src").alias("c"), F.col("dst").alias("a"))
    e2 = sym_d.select(F.col("src").alias("c"), F.col("dst").alias("b"))
    d2 = (
        e1.join(e2, "c")
        .where(F.col("a") < F.col("b"))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .join(survivors, ["src", "dst"], "left_semi")
    )

    return d1.unionAll(d2).groupBy("src", "dst").agg(F.count(F.lit(1)).alias("dec"))


def _peel_level(
    state: DataFrame,
    k: int,
    max_rounds: int,
    cutter: supersteps.LineageCutter,
) -> tuple[DataFrame, list[DataFrame]]:
    """Peel (src, dst, support) state to the k-truss fixpoint with
    decremental support updates. Returns (fixpoint state, per-round dropped
    edge DataFrames). Lineage cuts go through `cutter` so deep peels never
    build the long localCheckpoint chains that degrade geometrically
    (supersteps.LineageCutter); dropped frames stay lazy over cut states,
    which remain valid until the caller closes the cutter."""
    dropped_frames: list[DataFrame] = []
    for _ in range(max_rounds):
        dropped = state.where(F.col("support") < k - 2).select("src", "dst")
        if dropped.limit(1).count() == 0:
            return state, dropped_frames
        dropped_frames.append(dropped)
        survivors = state.where(F.col("support") >= k - 2)
        dec = _support_decrements(dropped, survivors.select("src", "dst"))
        state = cutter.cut(
            survivors.join(dec, ["src", "dst"], "left").select(
                "src",
                "dst",
                (F.col("support") - F.coalesce("dec", F.lit(0))).alias("support"),
            )
        )
    return state, dropped_frames


def ktruss(
    spark: SparkSession,
    canonical: DataFrame,
    k: int,
    max_rounds: int = 100000,
) -> DataFrame:
    """Canonical edges of the k-truss (fixpoint of support-based peeling).
    Support is computed once; rounds pay only dropped-edge-driven joins."""
    if k < 3:
        return canonical
    # context manager: a failed deep cascade must not leak parquet scratch
    with supersteps.LineageCutter(spark, prefix="ktruss-") as cutter:
        state = cutter.cut(edge_support(canonical))
        state, _dropped = _peel_level(state, k, max_rounds, cutter)
        return cutter.close(state.select("src", "dst"))


def ktruss_oracle_sql(edges_cte: str, k: int, n_rounds: int = 24) -> str:
    """Unrolled ANSI-SQL k-truss peel for the DuckDB oracle: each level
    rebuilds survivor adjacency lists and drops edges with support < k-2.
    The peel fixpoint is idempotent, so unrolling with margin is safe (a
    deeper-than-unrolled graph would hash-mismatch — the visible failure).
    Levels are AS MATERIALIZED: each references its predecessor three
    times, and DuckDB re-expands plain CTEs per reference. Output: one row
    (n_truss_edges)."""
    parts = [
        edges_cte,
        ", e0 AS MATERIALIZED (SELECT src, dst FROM edges)",
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f"""
, adj{r} AS MATERIALIZED (
  SELECT v, list(w ORDER BY w) AS nbrs FROM (
    SELECT src AS v, dst AS w FROM e{r - 1}
    UNION ALL SELECT dst AS v, src AS w FROM e{r - 1}
  ) GROUP BY v
)
, e{r} AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM e{r - 1} e
  JOIN adj{r} a ON a.v = e.src
  JOIN adj{r} b ON b.v = e.dst
  WHERE len(list_intersect(a.nbrs, b.nbrs)) >= {k - 2}
)"""
        )
    parts.append(
        f"\nSELECT COUNT(*)::BIGINT AS n_truss_edges FROM e{n_rounds}"
    )
    return "".join(parts)


def truss_numbers(
    spark: SparkSession,
    canonical: DataFrame,
    max_k: int = 64,
) -> DataFrame:
    """(src, dst, truss): the largest k for which the edge survives in the
    k-truss (>= 2 for every edge). One support computation feeds the whole
    cascade: the k-level fixpoint's MAINTAINED supports carry into level
    k+1, so no level ever recomputes support from scratch.

    Job economy (the at-depth cost): levels where nothing would drop are
    SKIPPED entirely — the surviving min support m (one hash agg per
    processed level, doubling as the emptiness probe) proves every level
    below m+3 is a no-op, so k jumps straight to the first level that
    actually peels. Lineage cuts go through a bounded-chain cutter, so a
    deep cascade pays flat per-round cost instead of the geometric
    localCheckpoint-chain cliff. Labels are those of a one-level-at-a-time
    cascade: an edge dropping at level k has truss k-1, and a jump changes
    WHICH k processes it, not the k at which it first drops."""
    # context manager: a failed deep cascade must not leak parquet scratch
    with supersteps.LineageCutter(spark, prefix="truss-") as cutter:
        state = cutter.cut(edge_support(canonical))
        labeled: list[DataFrame] = []
        k = 3
        while k <= max_k:
            m = state.agg(F.min("support").alias("m")).first()["m"]
            if m is None:
                break  # nothing left to peel
            # first level that drops anything: support m < k-2 <=> k > m+2
            k = max(k, int(m) + 3)
            if k > max_k:
                k = max_k + 1  # leftovers are capped at max_k
                break
            state, dropped_frames = _peel_level(state, k, 100000, cutter)
            for d in dropped_frames:
                labeled.append(d.select("src", "dst", F.lit(k - 1).cast("long").alias("truss")))
            k += 1
        if state.limit(1).count() > 0:
            labeled.append(
                state.select("src", "dst", F.lit(k - 1).cast("long").alias("truss"))
            )
        out = labeled[0]
        for df in labeled[1:]:
            out = out.unionAll(df)
        return cutter.close(out)
