"""HITS (hubs & authorities) as checkpointed DataFrame supersteps.

Link-graph companion to PageRank (north-star addition): on a directed web
graph, an iteration sets auth(v) = Σ hub(u) over in-edges u→v, then
hub(u) = Σ auth(v) over out-edges u→v, each L2-normalized — Kleinberg's
classic algorithm (JACM '99, public result).

Spark shape mirrors `pagerank.py`: `supersteps.state_plan` (24·|V| gate)
partitions the cached edge table and its transpose, so both half-steps are
the same "join the score on src, sum by dst" and a round moves only score
tables, never edges. HITS is scale invariant (normalizing auth before
the hub half-step leaves the normalized hub unchanged), so a round carries
un-normalized scores and needs one norm aggregate, over the state
`iterate` has just materialized: two doubles collected to the driver.
Deterministic fixed-iteration mode + 6-decimal rounding lets the
unrolled-SQL DuckDB oracle match hash-exactly (same contract pattern as
`pagerank_oracle_sql`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import supersteps


def _norms(state: DataFrame) -> tuple[float, float]:
    """L2 norms of the (hub, auth) columns; 0.0 for an all-null column."""
    row = state.agg(*(F.sqrt(F.sum(F.col(c) * F.col(c))).alias(c) for c in ("hub", "auth"))).first()
    return row["hub"] or 0.0, row["auth"] or 0.0


def _scaled(col: str, norm: float) -> F.Column:
    """`col` / `norm`, 0 where `col` is null or the norm is 0."""
    scaled = F.coalesce(F.col(col) / F.lit(norm), F.lit(0.0)) if norm > 0 else F.lit(0.0)
    return scaled.alias(col)


def hits_run(
    spark: SparkSession,
    edges: DataFrame,
    n_iterations: int = 10,
    checkpoint_dir: str | None = None,
) -> "supersteps.SuperstepRun":
    """Full SuperstepRun for HITS over the DIRECTED edge table (src, dst).

    `run.state` is (vertex, hub, auth) after n_iterations, both score
    vectors L2-normalized over the full vertex set. Vertices with no
    out-edges hold hub=0, no in-edges hold auth=0 — they stay in the state
    so the output covers the whole vertex set.

    Each round rescales its input hubs by the previous state's hub norm,
    then computes auth_raw = Aᵀ·hub and hub_raw = A·auth_raw; the round's
    state is their full outer join, which holds every vertex (each one has
    an in- or out-edge) with null for a missing side. Committed snapshots
    under `checkpoint_dir` therefore hold these un-normalized scores, and
    every round is committed. Resume is unaffected: every round rescales
    its input, so the scale a snapshot carries never reaches the result.
    The final state is normalized by its own norms, nulls set to 0; zero
    rounds return the all-ones start unchanged."""
    e = edges.select("src", "dst")
    verts = (
        e.select(F.col("src").alias("vertex"))
        .union(e.select(F.col("dst").alias("vertex")))
        .distinct()
        .cache()
    )
    plan = supersteps.state_plan(24 * verts.count())
    fwd = plan.relation(e)
    rev = plan.relation(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    def spread(rel: DataFrame, scores: DataFrame, col: str, out: str) -> DataFrame:
        # Σ col over src, by dst: exchange-free on the broadcast-state plan
        s = plan.state(scores.withColumnRenamed("vertex", "src"))
        return rel.join(s, "src").groupBy(F.col("dst").alias("vertex")).agg(F.sum(col).alias(out))

    def step(state: DataFrame, i: int) -> DataFrame:
        hub = state.select("vertex", _scaled("hub", _norms(state)[0]))
        auth = spread(fwd, hub, "hub", "auth")
        return spread(rev, auth, "auth", "hub").join(auth, "vertex", "full").select("vertex", "hub", "auth")

    run = supersteps.iterate(
        spark,
        verts.select("vertex", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")),
        step,
        max_iterations=n_iterations,
        checkpoint_dir=checkpoint_dir,
        # the norm aggregate and the next round both read the state:
        # materialize it once per round
        checkpoint_every=1,
        helpers=(verts, fwd, rev),
    )
    if n_iterations > 0:  # zero rounds keep the all-ones start, as the oracle does
        nh, na = _norms(run.state)
        final = run.state.select("vertex", _scaled("hub", nh), _scaled("auth", na))
        run.state = final.localCheckpoint(eager=True)
    return run


def hits(
    spark: SparkSession,
    edges: DataFrame,
    n_iterations: int = 10,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(vertex, hub, auth) after n_iterations of L2-normalized HITS."""
    return hits_run(
        spark, edges, n_iterations=n_iterations, checkpoint_dir=checkpoint_dir
    ).state


def hits_oracle_sql(edges_cte: str, n_iterations: int = 10) -> str:
    """Unrolled ANSI-SQL HITS for the DuckDB oracle.

    `edges_cte` must define a CTE `edges(src, dst)`; the graph is used
    DIRECTED exactly as given. Output: (vertex, hub, auth) at 6dp.

    Every per-round CTE is declared MATERIALIZED: the normalizer
    subquery + the hub/state joins reference each round's CTEs 2-3
    times, and DuckDB's default CTE inlining makes the expansion
    EXPONENTIAL in n_iterations (measured: 2.2s at 2 rounds, 18.5s at 3
    on a 4-edge graph; materialized, 10 rounds run in ~1.4s).
    """
    parts = [
        edges_cte,
        """
, verts AS MATERIALIZED (
  SELECT src AS vertex FROM edges
  UNION
  SELECT dst AS vertex FROM edges
)
, s0 AS (SELECT vertex, 1.0 AS hub, 1.0 AS auth FROM verts)
""",
    ]
    for i in range(1, n_iterations + 1):
        p = i - 1
        parts.append(
            f"""
, araw{i} AS MATERIALIZED (
  SELECT v.vertex, COALESCE(c.auth, 0.0) AS auth
  FROM verts v
  LEFT JOIN (
    SELECT e.dst AS vertex, SUM(s.hub) AS auth
    FROM edges e JOIN s{p} s ON s.vertex = e.src
    GROUP BY e.dst
  ) c ON c.vertex = v.vertex
)
, an{i} AS MATERIALIZED (
  SELECT vertex,
         CASE WHEN n.norm > 0 THEN auth / n.norm ELSE 0.0 END AS auth
  FROM araw{i}, (SELECT SQRT(SUM(auth * auth)) AS norm FROM araw{i}) n
)
, hraw{i} AS MATERIALIZED (
  SELECT v.vertex, COALESCE(c.hub, 0.0) AS hub
  FROM verts v
  LEFT JOIN (
    SELECT e.src AS vertex, SUM(a.auth) AS hub
    FROM edges e JOIN an{i} a ON a.vertex = e.dst
    GROUP BY e.src
  ) c ON c.vertex = v.vertex
)
, s{i} AS MATERIALIZED (
  SELECT h.vertex,
         CASE WHEN n.norm > 0 THEN h.hub / n.norm ELSE 0.0 END AS hub,
         a.auth
  FROM hraw{i} h
  JOIN an{i} a ON a.vertex = h.vertex,
       (SELECT SQRT(SUM(hub * hub)) AS norm FROM hraw{i}) n
)"""
        )
    parts.append(
        f"\nSELECT vertex, ROUND(hub, 6) AS hub, ROUND(auth, 6) AS auth"
        f" FROM s{n_iterations} ORDER BY vertex"
    )
    return "".join(parts)
