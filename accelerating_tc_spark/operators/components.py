"""Connected components: min-label propagation with pointer jumping.

Base rule: comp_{t+1}(v) = min(comp_t(v), min over neighbors comp_t(u));
exact component ids at the fixpoint (the id of each component's smallest
vertex), matching the north rule's "component IDs exact".

Round complexity is the 100 TB concern: plain propagation needs
O(diameter) supersteps — hundreds on web-graph long tails. Every round
therefore also POINTER JUMPS (label <- label of label, the shortcutting of
Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
public result): labels chase their own chains, collapsing rounds to
O(log n) on paths. Invariants: a label is always a vertex id inside its own
component and only decreases, so the fixpoint is that of plain
propagation.

The loop body is the shared `supersteps.min_label_fixpoint` (also run by
both SCC phases) over the symmetrized edges; state checkpoints via the
superstep spine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import prep, supersteps


def connected_components_run(
    spark: SparkSession,
    canonical: DataFrame,
    max_iterations: int = 100,
    checkpoint_dir: str | None = None,
) -> supersteps.SuperstepRun:
    """Full run record (state (vertex, component) + per-round metrics)."""
    # Broadcast-state plan decision (r7, shared with labelprop and k-core):
    # above the 32·|E| gate the classic shuffled-state plan runs.
    plan = supersteps.state_plan(32 * canonical.count())
    sym = prep.symmetrize(canonical)
    verts = sym.select(F.col("src").alias("vertex")).distinct()

    # Round 1 from the identity labeling is exactly "min over neighbors ∪
    # self" (and pointer jumping through the identity state is the
    # identity), so it folds into init as ONE aggregate over the cached
    # relation (r7): the first superstep's join disappears, the fixpoint
    # and every later state are unchanged, and only the reported iteration
    # count shrinks by one.
    return supersteps.min_label_fixpoint(
        spark,
        sym,
        verts,
        lambda rel: plan.min_neighbor(rel, "component"),
        plan,
        max_iterations,
        label="component",
        checkpoint_dir=checkpoint_dir,
    )


def connected_components(
    spark: SparkSession,
    canonical: DataFrame,
    max_iterations: int = 100,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(vertex, component) with component = min vertex id in the component."""
    return connected_components_run(spark, canonical, max_iterations, checkpoint_dir).state


def component_sizes(spark: SparkSession, canonical: DataFrame, **kwargs) -> DataFrame:
    """(size, n_components) histogram of connected-component sizes — the
    standard giant-component diagnostic for a web crawl. Composes the
    pointer-jumping CC with two partial+final aggregates; the histogram
    collapses to at most |V| rows before any driver action."""
    cc = connected_components(spark, canonical, **kwargs)
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_components"))
    )


def component_sizes_oracle_sql(edges_cte: str) -> str:
    """Histogram view of the recursive-CTE component oracle."""
    base = components_oracle_sql(edges_cte)
    marker = "SELECT vertex, component FROM walk ORDER BY vertex"
    # guard the rewrite: if the base oracle's final SELECT is ever reworded
    # the replace would silently no-op and return the per-vertex listing
    # with the wrong schema (a confusing harness diff instead of this error)
    if marker not in base:  # not `assert`: stripped under python -O (ADVICE r6)
        raise RuntimeError("components_oracle_sql final projection changed; update marker")
    return base.replace(
        marker,
        """
SELECT size, COUNT(*)::BIGINT AS n_components FROM (
  SELECT component, COUNT(*)::BIGINT AS size FROM walk GROUP BY component
) GROUP BY size ORDER BY size
""",
    )


def components_oracle_sql(edges_cte: str) -> str:
    """Recursive-CTE oracle: component(v) = min vertex reachable from v.

    Correct for any graph; DuckDB's UNION (distinct) recursion converges
    because the walk state space is finite.
    """
    return (
        edges_cte
        + """
, sym AS (
  SELECT src, dst FROM edges
  UNION ALL
  SELECT dst AS src, src AS dst FROM edges
)
, verts AS (SELECT DISTINCT src AS vertex FROM sym)
, walk AS (
  WITH RECURSIVE reach(vertex, seen) AS (
    SELECT vertex, vertex AS seen FROM verts
    UNION
    SELECT r.vertex, e.dst AS seen
    FROM reach r JOIN sym e ON e.src = r.seen
  )
  SELECT vertex, MIN(seen) AS component FROM reach GROUP BY vertex
)
SELECT vertex, component FROM walk ORDER BY vertex
"""
    )
