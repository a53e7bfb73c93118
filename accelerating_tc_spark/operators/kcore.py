"""k-core decomposition + peel-priority edge orientation.

The reference's A-direction peel (edge_directing/A-direction.cpp:84-146) and
k-core direction (edge_directing/kcore_direction.cpp:91-146) orient edges by
a peeling priority. Sequential bucket peeling (Matula-Beck) doesn't map to
DataFrames, so core numbers are computed with the h-index fixpoint
(Lü et al., "The H-index of a network node", 2016 — public result): start
with est(v) = degree(v); repeat est(v) <- h-index of neighbors' estimates;
the fixpoint is exactly the core number. Each round is joins + HASH
aggregates only — the h-index is computed from a per-vertex histogram of
capped neighbor estimates folded by a per-row `F.aggregate`, never a
per-vertex sort window (the reference's peel loop is bucket-based, not
sort-based, for the same reason — kcore_direction.cpp:91-146); the
superstep spine provides checkpoint/resume.

Round shape: tag each directed edge of the symmetrized graph with both
endpoints' estimates (two hash joins), cap the sender's estimate at the
receiver's (h <= est(v) and the h-index is invariant to capping values at
any bound >= h, so this loses nothing while bounding the histogram),
histogram (vertex, capped) with one hash agg, collect the per-vertex
histogram (<= min(degree, est) entries) with a second, and fold it
descending: h = max_i min(value_i, cum_count_i). All shuffles are hash
exchanges; nothing sorts |E| rows.

Orientation by (core, degree, id) lexicographic reproduces the reference's
peel-orientation semantics (priority level, runtime degree, id tie-break —
A-direction.cpp:266-285).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import prep, supersteps


def _hindex_from_histogram(hist_col: str = "hist") -> "F.Column":
    """h-index of a multiset given its histogram array<struct<c,cnt>> —
    one per-row fold, no shuffle: sort entries by value descending, then
    h = max over prefixes of min(value, cumulative count)."""
    pairs = F.reverse(F.array_sort(F.col(hist_col)))
    folded = F.aggregate(
        pairs,
        F.struct(
            F.lit(0).cast("long").alias("cum"), F.lit(0).cast("long").alias("best")
        ),
        lambda acc, x: F.struct(
            (acc["cum"] + x["cnt"]).alias("cum"),
            F.greatest(
                acc["best"], F.least(x["c"], acc["cum"] + x["cnt"])
            ).alias("best"),
        ),
    )
    return folded["best"]


def core_numbers(
    spark: SparkSession,
    canonical: DataFrame,
    max_iterations: int = 500,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(vertex, core) — exact core number per vertex at the h-index fixpoint,
    one hash-aggregate round per superstep (module docstring).
    max_iterations defaults high (500): rounds are flat-cost (superstep
    hard cuts bound the lineage chain) and deep peel chains legitimately
    need hundreds of rounds — one round per remaining peel level."""
    # Broadcast-state plan (r7, as in labelprop/components): h-index rounds
    # are integer joins + hash aggregates, so either plan gives the exact
    # fixpoint.
    plan = supersteps.state_plan(32 * canonical.count())
    sym = plan.relation(prep.symmetrize(canonical))
    init = prep.degrees(canonical).select("vertex", F.col("degree").alias("core"))

    def step(state: DataFrame, i: int) -> DataFrame:
        st_src = state.select(F.col("vertex").alias("src"), F.col("core").alias("src_core"))
        st_dst = state.select(F.col("vertex").alias("dst"), F.col("core").alias("dst_core"))
        capped = (
            sym.join(plan.state(st_src), "src")
            .join(plan.state(st_dst), "dst")
            .select(
                F.col("dst").alias("vertex"),
                F.least("src_core", "dst_core").alias("c"),
            )
        )
        hist = capped.groupBy("vertex", "c").agg(F.count(F.lit(1)).alias("cnt"))
        hidx = (
            hist.groupBy("vertex")
            .agg(F.collect_list(F.struct("c", "cnt")).alias("hist"))
            .select("vertex", _hindex_from_histogram().alias("new_core"))
        )
        return state.join(plan.state(hidx), "vertex", "left").select(
            "vertex", F.least("core", F.coalesce("new_core", F.lit(0))).alias("core")
        )

    # core estimates only ever decrease: the shared monotone-sum probe
    return supersteps.iterate(
        spark,
        init,
        step,
        max_iterations=max_iterations,
        delta_fn=supersteps.monotone_sum_probe("core"),
        tolerance=0.0,
        checkpoint_dir=checkpoint_dir,
        on_nonconverged="raise",  # exact-semantics operator
        helpers=(sym,),
    ).state


def core_numbers_oracle_sql(edges_cte: str, n_rounds: int = 24) -> str:
    """Unrolled ANSI-SQL h-index iteration for the DuckDB oracle.

    The h-index fixpoint is IDEMPOTENT: once est stabilizes, further
    rounds are no-ops — so unrolling more rounds than the graph needs is
    safe, and a graph needing MORE rounds than unrolled would surface as
    a hash mismatch (the driver-visible failure we want). `edges_cte`
    must define edges(src, dst) canonical. Output: (vertex, core).

    Every hx level is AS MATERIALIZED: each round references the previous
    level twice, and DuckDB re-expands non-materialized CTEs per
    reference — 24 doubly-referenced levels would otherwise inline
    2^24 copies of the base scan.
    """
    parts = [
        edges_cte,
        """
, sym AS MATERIALIZED (
  SELECT src, dst FROM edges
  UNION ALL
  SELECT dst AS src, src AS dst FROM edges
)
, hx0 AS MATERIALIZED (SELECT src AS vertex, COUNT(*)::BIGINT AS core FROM sym GROUP BY src)
""",
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f"""
, h{r} AS (
  SELECT vertex, COUNT(*) FILTER (WHERE nbr_core >= rn)::BIGINT AS h
  FROM (
    SELECT e.dst AS vertex, p.core AS nbr_core,
           ROW_NUMBER() OVER (PARTITION BY e.dst ORDER BY p.core DESC) AS rn
    FROM sym e JOIN hx{r - 1} p ON p.vertex = e.src
  )
  GROUP BY vertex
)
, hx{r} AS MATERIALIZED (
  SELECT p.vertex, LEAST(p.core, COALESCE(h.h, 0)) AS core
  FROM hx{r - 1} p LEFT JOIN h{r} h ON h.vertex = p.vertex
)"""
        )
    parts.append(f"\nSELECT vertex, core FROM hx{n_rounds} ORDER BY vertex")
    return "".join(parts)


def orient_by_core(canonical: DataFrame, cores: DataFrame) -> DataFrame:
    """Orient each edge by (core, degree, id) lexicographic — the peel
    orientation: low-priority endpoint -> high-priority endpoint."""
    deg = prep.degrees(canonical)
    attrs = cores.join(deg, "vertex").select("vertex", "core", "degree")
    a_src = attrs.select(
        F.col("vertex").alias("src"), F.col("core").alias("core_s"), F.col("degree").alias("deg_s")
    )
    a_dst = attrs.select(
        F.col("vertex").alias("dst"), F.col("core").alias("core_d"), F.col("degree").alias("deg_d")
    )
    joined = canonical.join(a_src, "src").join(a_dst, "dst")
    keep = (
        (F.col("core_s") < F.col("core_d"))
        | ((F.col("core_s") == F.col("core_d")) & (F.col("deg_s") < F.col("deg_d")))
        | (
            (F.col("core_s") == F.col("core_d"))
            & (F.col("deg_s") == F.col("deg_d"))
            & (F.col("src") < F.col("dst"))
        )
    )
    return joined.select(
        F.when(keep, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(keep, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )
