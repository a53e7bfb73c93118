"""Edge-table preparation: cleaning, degrees, orientation, pruning, ID compaction.

Spark-first re-expressions of the reference's preprocessing stages
(SURVEY.md §2.2/§2.4): declarative DataFrame plans so Catalyst gets
pushdown/pruning for free; the only shuffles are the ones the algorithms
inherently need (degree agg, orientation join).

Reference parity notes (file:line cites into /root/reference):
- self-loop filter      -> Hu/preTC.cu:253-260, tricore/src/tricount_gpu.cu:139-144
- dedup                 -> edge_directing/A-direction-parallel/buildCSR.cu:145-147
- symmetrize            -> buildCSR.cu:114-120, edge_directing/A-direction.cpp:226-232
- degree histogram      -> tricore/src/tricount_gpu.cu:37-67, Hu/preTC.cu:116-123
- degree orientation    -> Hu/preTC.cu:125-133, tricount_gpu.cu:69-101 (redirect_edges)
- degree<=1 prune       -> Hu/preTC.cu:135-168
- dense-ID compaction   -> tools/adjust2tc.cpp:14-36, tools/serialize.cpp:17-46
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ranking import dense_rank_ids


def canonicalize_edges(edges: DataFrame) -> DataFrame:
    """Undirected simple graph as canonical (src < dst) edge rows.

    Drops self-loops and duplicates (including (v,u) mirrors of (u,v)).
    One shuffle (the distinct); filters sit below it so they push to the scan.
    """
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").cast("long").alias("src"),
            F.greatest("src", "dst").cast("long").alias("dst"),
        )
        .distinct()
    )


def symmetrize(canonical: DataFrame) -> DataFrame:
    """Both directions of each canonical edge (the reference's symmetrized list)."""
    return canonical.union(canonical.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def degrees(canonical: DataFrame) -> DataFrame:
    """(vertex, degree) — undirected degree via explode + hash agg.

    Spark's partial+final aggregation is the two-level reduction the
    reference does with atomicAdd + reduce.
    """
    return (
        canonical.select(F.explode(F.array("src", "dst")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def orient_by_degree(canonical: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """Direct each edge low-degree -> high-degree, ties by vertex id.

    This is the core logical rewrite of the whole engine: it bounds per-vertex
    out-degree so the wedge join is O(sum outdeg^2) instead of O(sum deg^2).
    Tie-break (degree, id) lexicographic, matching the reference exactly.
    """
    deg = deg if deg is not None else degrees(canonical)
    with_deg = (
        canonical.join(deg.withColumnRenamed("vertex", "src").withColumnRenamed("degree", "deg_src"), "src")
        .join(deg.withColumnRenamed("vertex", "dst").withColumnRenamed("degree", "deg_dst"), "dst")
    )
    keep = (F.col("deg_src") < F.col("deg_dst")) | (
        (F.col("deg_src") == F.col("deg_dst")) & (F.col("src") < F.col("dst"))
    )
    return with_deg.select(
        F.when(keep, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(keep, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )


def prune_low_degree(canonical: DataFrame, min_degree: int = 2, iterate: bool = False) -> DataFrame:
    """Drop vertices with degree < min_degree (leaf/isolated pruning).

    Semi-join shaped, like the reference's prefix-count squeeze. With
    ``iterate=True`` peels to the full (min_degree)-core fixpoint.
    """
    current = canonical
    n_current: int | None = None
    while True:
        deg = degrees(current)
        keep = deg.where(F.col("degree") >= min_degree).select("vertex")
        pruned = (
            current.join(keep.withColumnRenamed("vertex", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("vertex", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
        if not iterate:
            return pruned
        # Fixpoint check: ONE count action per round (the previous round's
        # count is carried over; only the first round pays an extra count).
        pruned = pruned.localCheckpoint(eager=True)
        n_pruned = pruned.count()
        if n_current is None:
            n_current = current.count()
        if n_pruned == n_current:
            return pruned
        current, n_current = pruned, n_pruned


def compact_ids(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Squeeze a sparse vertex-id space into dense [0, n) ids.

    Returns (remapped_edges, mapping(vertex, new_id)); ordering of new ids is
    by original id (gap-squeezing, like tools/serialize.cpp — not first-seen).
    """
    vertices = edges.select(F.col("src").alias("vertex")).union(
        edges.select(F.col("dst").alias("vertex"))
    ).distinct()
    mapping = dense_rank_ids(vertices, ["vertex"]).select("vertex", "new_id")
    remapped = (
        edges.join(mapping.withColumnRenamed("vertex", "src").withColumnRenamed("new_id", "new_src"), "src")
        .join(mapping.withColumnRenamed("vertex", "dst").withColumnRenamed("new_id", "new_dst"), "dst")
        .select(F.col("new_src").alias("src"), F.col("new_dst").alias("dst"))
    )
    return remapped, mapping


def adjacency(oriented: DataFrame) -> DataFrame:
    """(src, nbrs sorted array) — the CSR analog: one row per vertex with
    out-neighbors as a sorted ArrayType column. Callers feed canonical
    (distinct) edge rows, so collect_list equals collect_set minus the
    per-group hash-set overhead (r7)."""
    return oriented.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))


def out_degrees(oriented: DataFrame) -> DataFrame:
    """(vertex, out_degree) after orientation (reference A-order.cpp:86-99)."""
    return oriented.groupBy(F.col("src").alias("vertex")).agg(F.count(F.lit(1)).alias("out_degree"))


def degree_histogram(canonical: DataFrame) -> DataFrame:
    """(degree, n_vertices) distribution (reference approximateRatio.cpp:42-55)."""
    return degrees(canonical).groupBy("degree").agg(F.count(F.lit(1)).alias("n_vertices"))


def graph_stats(canonical: DataFrame) -> DataFrame:
    """One-row global summary of the undirected graph: vertex/edge counts,
    degree extremes/mean, and degree ASSORTATIVITY — the Pearson
    correlation between endpoint degrees over edges, with each undirected
    edge contributing both (deg_u, deg_v) and (deg_v, deg_u) (Newman's
    convention, public result PRL'02). All JVM expressions: two joins to
    attach degrees, corr() in one partial+final aggregate — no driver math
    beyond the final 1-row collect a caller does."""
    deg = degrees(canonical)
    with_deg = (
        canonical.join(deg.select(F.col("vertex").alias("src"), F.col("degree").alias("ds")), "src")
        .join(deg.select(F.col("vertex").alias("dst"), F.col("degree").alias("dd")), "dst")
    )
    sym = with_deg.select(F.col("ds").alias("da"), F.col("dd").alias("db")).unionAll(
        with_deg.select(F.col("dd").alias("da"), F.col("ds").alias("db"))
    )
    # degenerate case: zero degree variance (regular graphs — a cycle, a
    # perfect matching) makes Pearson r undefined. Spark's corr RAISES
    # DIVIDE_BY_ZERO under ANSI mode (the 4.x default) while SQL CORR
    # (DuckDB oracle) returns NULL — so compute r explicitly from the same
    # co-moments with try_divide, which yields NULL exactly where SQL does
    per_edge = sym.agg(
        F.round(
            F.try_divide(
                F.covar_pop("da", "db"),
                F.stddev_pop("da") * F.stddev_pop("db"),
            ),
            6,
        ).alias("assortativity")
    )
    base = canonical.agg(F.count(F.lit(1)).alias("n_edges"))
    vstats = deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.max("degree").alias("max_degree"),
        F.round(F.avg("degree"), 6).alias("avg_degree"),
    )
    return (
        vstats.crossJoin(base)
        .crossJoin(per_edge)
        .select("n_vertices", "n_edges", "max_degree", "avg_degree", "assortativity")
    )


def orientation_balance_cost(oriented: DataFrame) -> DataFrame:
    """Skew metric: sum |outdeg - avg_outdeg| over vertices with out-edges
    (reference tools/verification.cpp:25-60). Single-row DataFrame."""
    od = out_degrees(oriented)
    avg = od.agg(F.avg("out_degree").alias("a"))
    return od.crossJoin(avg).agg(
        F.sum(F.abs(F.col("out_degree") - F.col("a"))).alias("balance_cost")
    )
