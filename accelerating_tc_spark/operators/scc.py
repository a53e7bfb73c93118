"""Strongly connected components of a DIRECTED graph — the web-bowtie
operator (Broder et al., "Graph structure in the Web", WWW 2000: a crawl's
link graph decomposes into a giant SCC plus IN/OUT tendrils).

The reference engine's graph programs are all undirected (SURVEY.md §2.8);
the north star's link-graph tier makes directed structure first-class, so
SCC joins PageRank/HITS as a north-star addition. Exact semantics:
``component(v) = min vertex id in v's SCC`` at the fixpoint, mirroring the
connected-components contract (components.py).

Algorithm: iterative COLORING with trimming — public results (Orzan's
coloring, 2004; Hong/Rodia/Olukotun's trim+FB, PPoPP'13; Slota et al.).
Each outer round, on the still-unassigned subgraph:

1. TRIM (bounded peel): a vertex with no in-edge or no out-edge cannot sit
   on a cycle, so it is a singleton SCC. Cheap degree anti-joins clear the
   DAG tendrils that dominate crawl graphs.
2. FORWARD COLORING to a fixpoint: ``color(v) = min u with a directed path
   u ->* v``. Min-label propagation along edge direction, accelerated by
   POINTER JUMPING — valid here because the invariant "label(v) reaches v"
   is preserved under label(label(v)) (reachability composes), collapsing
   rounds to O(log n)-ish — the same loop the undirected CC runs
   (supersteps.min_label_fixpoint).
3. BACKWARD CONFIRMATION inside each color class: the class of root r
   (color == r == class minimum) contains SCC(r), and every v -> r path
   stays inside the class, so ``m(v) = min class-internal vertex reachable
   FROM v`` (the same jumped fixpoint on reversed class-internal edges)
   confirms membership: v is in SCC(r) iff m(v) == color(v).
4. Assign confirmed vertices, delete them, repeat on the remainder.

Scale posture: every phase is shuffle-joins + partial aggregates keyed on
vertex ids; per-round state is O(|remaining V|); lineage is cut through the
shared LineageCutter/superstep spine so plans stay O(1)-deep. Outer rounds
track the SCC-DAG's level structure — small on web-shaped graphs (one
giant SCC + tendrils trim away); a pathological long path of singleton
SCCs degenerates to O(n) rounds, the same class of bound as plain
min-label CC's O(diameter), and the loop raises rather than returning a
non-fixpoint state (``on_nonconverged`` discipline of supersteps.iterate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import supersteps


def _reachers(
    spark: SparkSession,
    edges: DataFrame,
    verts: DataFrame,
    max_iterations: int,
) -> DataFrame:
    """(vertex, label) with label = min vertex having a directed path TO
    vertex along `edges` (every vertex reaches itself): the shared
    min-label + pointer-jump fixpoint, started from the identity labeling.
    label(v) reaches v and label(label(v)) reaches label(v), so the jumped
    value is still a reacher of v — the fixpoint is unchanged, rounds
    collapse. Raises if max_iterations is hit before the fixpoint."""
    # the state is exactly |verts| rows, and callers pass verts already
    # materialized (cutter.cut) — gate the broadcast-state plan on it
    plan = supersteps.state_plan(24 * verts.count())
    return supersteps.min_label_fixpoint(
        spark,
        edges,
        verts,
        lambda rel: verts.select("vertex", F.col("vertex").alias("label")),
        plan,
        max_iterations,
    ).state


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_outer: int = 50,
    max_trim_rounds: int = 25,
    max_inner: int = 60,
) -> DataFrame:
    """(vertex, component) over a directed (src, dst) edge table; component
    is the smallest vertex id in the vertex's SCC. Self-loops and duplicate
    edges are dropped; the vertex universe is the endpoints of the remaining
    edges (a vertex whose only edge was a self-loop carries no directed
    structure and is excluded, matching the SQL oracle)."""
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .distinct()
    )
    assigned: list[DataFrame] = []
    with supersteps.LineageCutter(spark, prefix="scc-cut-") as cutter:
        e = cutter.cut(e)
        verts = cutter.cut(
            e.select(F.col("src").alias("vertex"))
            .union(e.select(F.col("dst").alias("vertex")))
            .distinct()
        )
        done = False
        for _ in range(max_outer):
            # --- 1. trim: no in-edge or no out-edge => singleton SCC ---
            for _ in range(max_trim_rounds):
                has_out = e.select(F.col("src").alias("vertex")).distinct()
                has_in = e.select(F.col("dst").alias("vertex")).distinct()
                core = cutter.cut(has_out.join(has_in, "vertex"))
                trivial = verts.join(core, "vertex", "left_anti")
                if trivial.isEmpty():
                    break
                assigned.append(
                    cutter.cut(trivial.select("vertex", F.col("vertex").alias("component")))
                )
                verts = core
                e = cutter.cut(
                    e.join(verts, e["src"] == verts["vertex"], "left_semi").join(
                        verts, F.col("dst") == verts["vertex"], "left_semi"
                    )
                )
            if verts.isEmpty():
                done = True
                break

            # --- 2. forward coloring: color(v) = min vertex reaching v ---
            colors = _reachers(spark, e, verts, max_inner)

            # --- 3. backward confirmation inside each color class ---
            c_src = colors.select(F.col("vertex").alias("src"), F.col("label").alias("c_src"))
            c_dst = colors.select(F.col("vertex").alias("dst"), F.col("label").alias("c_dst"))
            class_rev = (
                e.join(c_src, "src")
                .join(c_dst, "dst")
                .where(F.col("c_src") == F.col("c_dst"))
                # reversed: m(v) = min class-internal vertex reachable FROM v
                # propagates against edge direction
                .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            m = _reachers(spark, class_rev, verts, max_inner)

            # v in SCC(root) iff it reaches its class root within the class:
            # the root is the class minimum, so m(v) == color(v) decides it
            confirmed = cutter.cut(
                colors.join(m.withColumnRenamed("label", "m"), "vertex")
                .where(F.col("label") == F.col("m"))
                .select("vertex", F.col("label").alias("component"))
            )
            assigned.append(confirmed)

            # --- 4. remove the confirmed SCCs, iterate on the remainder ---
            verts = cutter.cut(verts.join(confirmed, "vertex", "left_anti"))
            if verts.isEmpty():
                done = True
                break
            e = cutter.cut(
                e.join(verts, e["src"] == verts["vertex"], "left_semi").join(
                    verts, F.col("dst") == verts["vertex"], "left_semi"
                )
            )
        if not done:
            raise RuntimeError(
                f"scc: {max_outer} outer rounds did not exhaust the graph; "
                "state is NOT a complete SCC assignment"
            )
        if not assigned:  # edge-less input: no directed structure at all
            return verts.select("vertex", F.col("vertex").alias("component"))
        out = assigned[0]
        for part in assigned[1:]:
            out = out.unionByName(part)
        return cutter.close(out)


def scc_sizes(spark: SparkSession, edges: DataFrame, **kwargs) -> DataFrame:
    """(size, n_components) histogram of SCC sizes — the bowtie diagnostic
    (giant-SCC share vs singleton tendrils). Two partial+final aggregates
    on top of the SCC assignment; at most |V| intermediate rows."""
    scc = strongly_connected_components(spark, edges, **kwargs)
    return (
        scc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_components"))
    )


def condensation_edges(spark: SparkSession, edges: DataFrame, **kwargs) -> DataFrame:
    """(src_scc, dst_scc): the distinct edges of the CONDENSATION — the DAG
    obtained by contracting every SCC to its component id (the minimum
    vertex id, matching strongly_connected_components). The condensation is
    the object bow-tie analysis and crawl-frontier scheduling actually walk:
    acyclic by construction, typically orders of magnitude smaller than the
    graph (the giant SCC is one node).

    Scale posture: two hash joins mapping edge endpoints through the SCC
    assignment plus a distinct — all keyed on vertex/component ids; output
    is bounded by the edge count and usually far smaller."""
    assign = strongly_connected_components(spark, edges, **kwargs)
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .distinct()
    )
    a_src = assign.select(F.col("vertex").alias("src"), F.col("component").alias("src_scc"))
    a_dst = assign.select(F.col("vertex").alias("dst"), F.col("component").alias("dst_scc"))
    return (
        e.join(a_src, "src")
        .join(a_dst, "dst")
        .where(F.col("src_scc") != F.col("dst_scc"))
        .select("src_scc", "dst_scc")
        .distinct()
    )


def condensation_oracle_sql(edges_cte: str) -> str:
    """Condensation edges over the closure-derived SCC assignment."""
    return (
        closure_ctes(edges_cte)
        + """
, assign AS (
  SELECT a.vertex, MIN(a.seen) AS component
  FROM fwd a JOIN fwd b ON b.vertex = a.seen AND b.seen = a.vertex
  GROUP BY a.vertex
)
SELECT DISTINCT s.component::BIGINT AS src_scc, d.component::BIGINT AS dst_scc
FROM dedges e
JOIN assign s ON s.vertex = e.src
JOIN assign d ON d.vertex = e.dst
WHERE s.component <> d.component
ORDER BY src_scc, dst_scc
"""
    )


def closure_ctes(edges_cte: str) -> str:
    """CTE chain ending in `fwd(vertex, seen)` — the full forward
    transitive closure (v ->* seen, reflexive) of the deduped, loop-free
    directed graph. Shared by the SCC oracle and the bow-tie oracle
    (operators/bowtie.py), which classifies vertices by reachability
    to/from the giant SCC over this same closure."""
    return (
        edges_cte
        + """
, dedges AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)
, dverts AS (
  SELECT src AS vertex FROM dedges UNION SELECT dst AS vertex FROM dedges
)
, fwd AS (
  WITH RECURSIVE reach(vertex, seen) AS (
    SELECT vertex, vertex AS seen FROM dverts
    UNION
    SELECT r.vertex, e.dst AS seen FROM reach r JOIN dedges e ON e.src = r.seen
  )
  SELECT vertex, seen FROM reach
)"""
    )


def scc_oracle_sql(edges_cte: str) -> str:
    """Closure oracle: component(v) = min u with v ->* u and u ->* v.

    The forward closure (WITH RECURSIVE, finite because UNION dedups) joined
    against its own transpose selects exactly the mutually-reachable pairs;
    the self row (v, v) guarantees every vertex survives the join.
    """
    return (
        closure_ctes(edges_cte)
        + """
SELECT a.vertex, MIN(a.seen)::BIGINT AS component
FROM fwd a JOIN fwd b ON b.vertex = a.seen AND b.seen = a.vertex
GROUP BY a.vertex ORDER BY a.vertex
"""
    )


def scc_sizes_oracle_sql(edges_cte: str) -> str:
    """Histogram view of the SCC closure oracle."""
    base = scc_oracle_sql(edges_cte)
    marker = (
        "SELECT a.vertex, MIN(a.seen)::BIGINT AS component\n"
        "FROM fwd a JOIN fwd b ON b.vertex = a.seen AND b.seen = a.vertex\n"
        "GROUP BY a.vertex ORDER BY a.vertex"
    )
    # guard the rewrite (ADVICE r5): a silently no-op replace would return
    # the per-vertex listing with the wrong schema
    if marker not in base:  # not `assert`: stripped under python -O (ADVICE r6)
        raise RuntimeError("scc_oracle_sql final projection changed; update marker")
    return base.replace(
        marker,
        """
, assign AS (
  SELECT a.vertex, MIN(a.seen) AS component
  FROM fwd a JOIN fwd b ON b.vertex = a.seen AND b.seen = a.vertex
  GROUP BY a.vertex
)
SELECT size, COUNT(*)::BIGINT AS n_components FROM (
  SELECT component, COUNT(*)::BIGINT AS size FROM assign GROUP BY component
) GROUP BY size ORDER BY size
""",
    )
