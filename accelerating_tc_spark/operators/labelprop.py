"""Synchronous label propagation supersteps (north-star addition).

label_{t+1}(v) = the smallest label among the most frequent labels of v's
neighbors (deterministic tie-break: count DESC, label ASC — so runs are
reproducible and the unrolled SQL oracle matches exactly). Vertices keep
their label when they have no neighbors. Fixed round count for determinism
(synchronous LP need not converge — it can 2-cycle on bipartite structures).

Each round: one join (labels onto edge endpoints), one count agg per
(vertex, label) and one hash-only argmax per vertex. The broadcast-state
plan (`supersteps.state_plan`, 32·|E| gate) runs a round with zero
exchanges; the classic plan shuffles the state and the contribution rows
once. Round 1 from the identity labeling folds into init.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import prep, supersteps


def label_propagation_run(
    spark: SparkSession,
    canonical: DataFrame,
    n_iterations: int = 5,
    checkpoint_dir: str | None = None,
) -> "supersteps.SuperstepRun":
    """Full SuperstepRun (state + per-round lineage metrics); `run.state`
    is (vertex, label) after n_iterations of synchronous min-mode
    propagation. In unmetered fixed-round mode the wall of lazy rounds
    lands on the next lineage-cut round."""
    n_part = spark.sparkContext.defaultParallelism
    # One bounds job over the input decides BOTH runtime plan choices for
    # the whole run (r7): the argmax packed-long fast path (see step) and
    # the broadcast-state plan. Packing (cnt, label) into one long needs
    # 0 <= label < 2^31; vertex ids are labels, so cnt <= degree < |V| <=
    # max_id+1 < 2^31 and cnt*2^31 + (2^31-1-label) < 2^62 never overflows.
    bounds = canonical.agg(
        F.min(F.least("src", "dst")).alias("lo"),
        F.max(F.greatest("src", "dst")).alias("hi"),
        F.count(F.lit(1)).alias("m"),
    ).first()
    packable = (
        bounds["lo"] is not None and bounds["lo"] >= 0 and bounds["hi"] < (1 << 31)
    )
    plan = supersteps.state_plan(32 * bounds["m"])
    _HALF = 1 << 31
    sym = plan.relation(prep.symmetrize(canonical))
    # Round 1 from the identity labeling collapses to "min neighbor id":
    # on a simple graph every neighbor's initial label is distinct, so all
    # counts tie at 1 and the (cnt DESC, label ASC) argmax picks the
    # smallest neighbor label. Folding it into init turns the first (most
    # expensive) superstep into one aggregate over the cached relation
    # (r7); rounds 2..n run unchanged, so the n-round result is identical.
    if n_iterations > 0:
        init = plan.min_neighbor(sym, "label")
        n_rounds = n_iterations - 1
    else:
        init = sym.select(F.col("src").alias("vertex")).distinct().select(
            "vertex", F.col("vertex").alias("label")
        )
        n_rounds = 0

    def step(state: DataFrame, i: int) -> DataFrame:
        # At most ONE exchange per round: the raw (dst-vertex, label)
        # contribution rows land hash-partitioned by vertex (for free under
        # the broadcast-state plan; via one repartition otherwise), and
        # every aggregate after that (count per (vertex, label), argmax per
        # vertex) runs exchange-free because hash(vertex) already clusters
        # both keys. The old shape aggregated by (vertex, label) first — a
        # second exchange — and its max(struct(cnt, -label)) argmax planned
        # as a SortAggregate (struct aggregation buffers are not
        # hash-aggregable), sorting the ~|E|-row label table twice a round.
        joined = sym.join(plan.state(state), sym["src"] == state["vertex"]).select(
            F.col("dst").alias("vertex"), "label"
        )
        contribs = joined if plan.broadcast else joined.repartition(n_part, "vertex")
        nbr_labels = contribs.groupBy("vertex", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # Every vertex of the symmetrized graph receives neighbor labels,
        # so one row per vertex comes out — no keep-own-label left join
        # (the oracle's COALESCE branch is never taken without isolated
        # vertices).
        if packable:
            # argmax by (cnt DESC, label ASC) as a single long-typed hash
            # aggregate: max(cnt * 2^31 + (2^31-1-label)); decode label.
            enc = F.col("cnt") * F.lit(_HALF) + (F.lit(_HALF - 1) - F.col("label"))
            return nbr_labels.groupBy("vertex").agg(
                (F.lit(_HALF - 1) - F.pmod(F.max(enc), F.lit(_HALF))).alias("label")
            )
        # generic-id fallback (64-bit/negative labels): max count per vertex
        # (hash agg), then min label among the tied rows — still hash-only
        # and exchange-free on the vertex partitioning; nbr_labels' shuffle
        # is computed once and reused by both branches (ReuseExchange).
        best = nbr_labels.groupBy("vertex").agg(F.max("cnt").alias("best_cnt"))
        return (
            nbr_labels.join(best, "vertex")
            .where(F.col("cnt") == F.col("best_cnt"))
            .groupBy("vertex")
            .agg(F.min("label").alias("label"))
        )

    return supersteps.iterate(
        spark,
        init,
        step,
        max_iterations=n_rounds,
        checkpoint_dir=checkpoint_dir,
        # fixed-round unmetered mode: state feeds each next round exactly
        # once (linear lazy chain, executed stage-by-stage in one job), so
        # mid-run lineage cuts only add materialization jobs — cut at the
        # end only (r7; was every 2). The plan depth stays bounded by
        # n_iterations, which callers keep small in fixed-round mode.
        checkpoint_every=max(n_rounds, 1),
        helpers=(sym,),
    )


def label_propagation(
    spark: SparkSession,
    canonical: DataFrame,
    n_iterations: int = 5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(vertex, label) after n_iterations of synchronous min-mode propagation."""
    return label_propagation_run(
        spark, canonical, n_iterations=n_iterations, checkpoint_dir=checkpoint_dir
    ).state


def label_propagation_oracle_sql(edges_cte: str, n_iterations: int = 5) -> str:
    """Unrolled SQL with the identical deterministic tie-break."""
    parts = [
        edges_cte,
        """
, sym AS (
  SELECT src, dst FROM edges
  UNION ALL
  SELECT dst AS src, src AS dst FROM edges
)
, verts AS (SELECT DISTINCT src AS vertex FROM sym)
, lp0 AS (SELECT vertex, vertex AS label FROM verts)
""",
    ]
    for i in range(1, n_iterations + 1):
        parts.append(
            f"""
, lp{i} AS (
  SELECT v.vertex, COALESCE(b.new_label, p.label) AS label
  FROM verts v
  JOIN lp{i - 1} p ON p.vertex = v.vertex
  LEFT JOIN (
    SELECT vertex, label AS new_label FROM (
      SELECT e.dst AS vertex, p2.label,
             ROW_NUMBER() OVER (
               PARTITION BY e.dst
               ORDER BY COUNT(*) DESC, p2.label ASC
             ) AS rn
      FROM sym e JOIN lp{i - 1} p2 ON p2.vertex = e.src
      GROUP BY e.dst, p2.label
    ) WHERE rn = 1
  ) b ON b.vertex = v.vertex
)"""
        )
    parts.append(f"\nSELECT vertex, label FROM lp{n_iterations} ORDER BY vertex")
    return "".join(parts)
