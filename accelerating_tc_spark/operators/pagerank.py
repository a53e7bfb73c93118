"""PageRank and personalized PageRank as checkpointed DataFrame supersteps
(north-star addition), sharing one walk (`_Walk`).

The walk runs on the symmetrized edge table: undirected graphs have no
dangling vertices, so the out-degree table IS the vertex set. Its cached
(src, dst, out_degree) relation is partitioned by the broadcast-state plan
(`supersteps.state_plan`, 24·|V| gate), so a round moves only the rank
table, or nothing at all; the contribution sum reassociates between the
two plans, and both match the 6dp-rounded oracle (verified at every contract
SF). Each run adds only its initial ranks and its teleport term.

Deterministic fixed-iteration mode exists so the unrolled-SQL DuckDB oracle
matches bit-for-bit after 6-decimal rounding.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import prep, supersteps

DAMPING = 0.85


class _Walk:
    """The walk both runs share. Construction runs one job, the |V| count,
    which also materializes the cached out-degree table (r7: one aggregate
    gives degrees and vertex set, no separate distinct pass)."""

    def __init__(self, spark: SparkSession, canonical: DataFrame):
        self.spark = spark
        self.sym = prep.symmetrize(canonical)
        self.out_deg = (
            self.sym.groupBy(F.col("src").alias("vertex"))
            .agg(F.count(F.lit(1)).alias("out_degree"))
            .cache()
        )
        self.n = self.out_deg.count()
        self.verts = self.out_deg.select("vertex")

    def run(
        self, init: DataFrame, teleport: Callable[[DataFrame], DataFrame], helpers=(), **kw
    ) -> "supersteps.SuperstepRun":
        """`iterate` rank <- teleport((vertex, c) contribution sums) from
        `init`; the caller's cached `helpers` are released with the walk's."""
        sym, od = self.sym, self.out_deg
        plan = supersteps.state_plan(24 * self.n)
        edges_od = plan.relation(
            sym.join(od, sym["src"] == od["vertex"]).select("src", "dst", "out_degree")
        )

        def step(state: DataFrame, i: int) -> DataFrame:
            contrib = edges_od.join(plan.state(state), edges_od["src"] == state["vertex"]).select(
                F.col("dst").alias("vertex"), (F.col("rank") / F.col("out_degree")).alias("c")
            )
            return teleport(contrib.groupBy("vertex").agg(F.sum("c").alias("c")))

        return supersteps.iterate(self.spark, init, step, helpers=(od, edges_od, *helpers), **kw)


def pagerank_run(
    spark: SparkSession,
    canonical: DataFrame,
    n_iterations: int = 10,
    damping: float = DAMPING,
    tolerance: float | None = None,
    checkpoint_dir: str | None = None,
) -> "supersteps.SuperstepRun":
    """Full SuperstepRun (state + per-round lineage metrics) for PageRank.

    `run.state` is (vertex, rank) after n_iterations (or earlier L1
    convergence if `tolerance` is set); ranks sum to 1 over the vertex set,
    which an edge-less graph leaves empty.
    `run.metrics[i].wall_s` gives per-round walls — in unmetered
    fixed-round mode rounds between lineage cuts are lazy, so their wall
    lands on the next cut round (document-read accordingly)."""
    walk = _Walk(spark, canonical)
    n = max(walk.n, 1)  # an edge-less graph ranks no vertex: avoid 1/0
    base = (1.0 - damping) / n

    delta_fn = None
    if tolerance is not None:
        def delta_fn(old: DataFrame, new: DataFrame) -> float:  # noqa: F811
            o = old.withColumnRenamed("rank", "rank_old")
            return (
                new.join(o, "vertex")
                .agg(F.sum(F.abs(F.col("rank") - F.col("rank_old"))).alias("d"))
                .collect()[0]["d"]
            )

    return walk.run(
        walk.verts.select("vertex", F.lit(1.0 / n).alias("rank")),
        # every vertex of the symmetrized graph has an incoming edge, so
        # the contribution aggregate already yields one row per vertex — no
        # dangling-vertex left join is needed
        lambda contrib: contrib.select(
            "vertex", (F.lit(base) + F.lit(damping) * F.col("c")).alias("rank")
        ),
        max_iterations=n_iterations,
        delta_fn=delta_fn,
        tolerance=tolerance or 0.0,
        checkpoint_dir=checkpoint_dir,
        # fixed-iteration unmetered mode: the rank state feeds each next
        # round exactly once (linear lazy chain), so mid-run lineage cuts
        # only add materialization jobs — cut at the end only (r7; was
        # every 3). Convergence mode still materializes every round for
        # delta_fn.
        checkpoint_every=1 if tolerance is not None else n_iterations,
    )


def pagerank(
    spark: SparkSession,
    canonical: DataFrame,
    n_iterations: int = 10,
    damping: float = DAMPING,
    tolerance: float | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(vertex, rank) after n_iterations (or earlier L1 convergence if
    `tolerance` is set). Ranks sum to 1 over the vertex set."""
    return pagerank_run(
        spark,
        canonical,
        n_iterations=n_iterations,
        damping=damping,
        tolerance=tolerance,
        checkpoint_dir=checkpoint_dir,
    ).state


def personalized_pagerank_run(
    spark: SparkSession,
    canonical: DataFrame,
    seeds: DataFrame | None = None,
    n_seeds: int = 8,
    n_iterations: int = 10,
    damping: float = DAMPING,
    checkpoint_dir: str | None = None,
) -> "supersteps.SuperstepRun":
    """Personalized PageRank: teleport mass restricted to a seed set
    (north-star web-graph addition — topic-/site-conditioned relevance,
    the standard seeded variant of the uniform walk above).

    `seeds` is a (vertex) DataFrame; when None the `n_seeds` lowest vertex
    ids are used (deterministic and SQL-expressible, so the contract row
    gets a full DuckDB oracle). Teleport vector s(v) = 1/|seeds| on seeds,
    0 elsewhere; init rank = s; update
    rank(v) = (1-d)·s(v) + d·Σ_{u∈N(v)} rank(u)/out_degree(u).

    Plan shape matches `pagerank_run` (the same walk) plus one teleport
    join per round: it keys on the same vertex hash partitioning the
    contribution aggregate already produced, so it adds no exchange."""
    walk = _Walk(spark, canonical)
    if seeds is None:
        seeds = walk.verts.orderBy("vertex").limit(n_seeds)
    k = seeds.count()
    if k == 0:
        walk.out_deg.unpersist()
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    # teleport vector, computed once: tiny seed frame broadcast against the
    # cached vertex table, then pinned on the superstep join partitioning
    verts_s = (
        walk.verts.join(
            F.broadcast(seeds.select("vertex", F.lit(1.0 / k).alias("s"))),
            "vertex",
            "left",
        )
        .select("vertex", F.coalesce("s", F.lit(0.0)).alias("s"))
        .repartition(spark.sparkContext.defaultParallelism, "vertex")
        .cache()
    )
    # no cache-priming count() actions for edges_od/verts_s (r7): the
    # loop's first round materializes both caches anyway — rounds are
    # sequential, so there is no duplicate-build race to guard against

    def teleport(contrib: DataFrame) -> DataFrame:
        # left join keeps zero-contribution vertices (a seeded walk can
        # leave far vertices at exactly d·0 + (1-d)·0)
        return verts_s.join(contrib, "vertex", "left").select(
            "vertex",
            (
                F.lit(1.0 - damping) * F.col("s")
                + F.lit(damping) * F.coalesce("c", F.lit(0.0))
            ).alias("rank"),
        )

    return walk.run(
        verts_s.select("vertex", F.col("s").alias("rank")),
        teleport,
        helpers=(verts_s,),
        max_iterations=n_iterations,
        checkpoint_dir=checkpoint_dir,
        # linear lazy chain (state feeds each round once): cut at the end
        # only, as in pagerank_run (r7)
        checkpoint_every=n_iterations,
    )


def personalized_pagerank(
    spark: SparkSession,
    canonical: DataFrame,
    seeds: DataFrame | None = None,
    n_seeds: int = 8,
    n_iterations: int = 10,
    damping: float = DAMPING,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(vertex, rank) after n_iterations of the seeded walk; ranks sum to 1
    over the vertex set (init mass 1 on the seeds, every update preserves
    total mass on the dangling-free symmetrized graph)."""
    return personalized_pagerank_run(
        spark,
        canonical,
        seeds=seeds,
        n_seeds=n_seeds,
        n_iterations=n_iterations,
        damping=damping,
        checkpoint_dir=checkpoint_dir,
    ).state


def personalized_pagerank_oracle_sql(
    edges_cte: str,
    n_seeds: int = 8,
    n_iterations: int = 10,
    damping: float = DAMPING,
) -> str:
    """Unrolled ANSI-SQL personalized PageRank (lowest-`n_seeds` vertex ids
    as the seed set — the same deterministic default as the Spark side).

    `edges_cte` must define a CTE `edges(src, dst)` with canonical src<dst
    rows. Output: (vertex, rank) rounded to 6dp."""
    parts = [
        edges_cte,
        f"""
, sym AS (
  SELECT src, dst FROM edges
  UNION ALL
  SELECT dst AS src, src AS dst FROM edges
)
, verts AS (SELECT DISTINCT src AS vertex FROM sym)
, seeds AS (SELECT vertex FROM verts ORDER BY vertex LIMIT {n_seeds})
, k AS (SELECT COUNT(*)::DOUBLE AS k FROM seeds)
, od AS (SELECT src AS vertex, COUNT(*)::DOUBLE AS out_degree FROM sym GROUP BY src)
, vs AS (
  SELECT v.vertex,
         CASE WHEN s.vertex IS NOT NULL THEN 1.0 / (SELECT k FROM k) ELSE 0.0 END AS s
  FROM verts v LEFT JOIN seeds s ON s.vertex = v.vertex
)
, pr0 AS (SELECT vertex, s AS rank FROM vs)
""",
    ]
    for i in range(1, n_iterations + 1):
        parts.append(
            f"""
, pr{i} AS (
  SELECT v.vertex,
         (1.0 - {damping}) * v.s
         + {damping} * COALESCE(c.contrib, 0.0) AS rank
  FROM vs v
  LEFT JOIN (
    SELECT e.dst AS vertex, SUM(p.rank / o.out_degree) AS contrib
    FROM sym e
    JOIN pr{i - 1} p ON p.vertex = e.src
    JOIN od o ON o.vertex = e.src
    GROUP BY e.dst
  ) c ON c.vertex = v.vertex
)"""
        )
    parts.append(
        f"\nSELECT vertex, ROUND(rank, 6) AS rank FROM pr{n_iterations} ORDER BY vertex"
    )
    return "".join(parts)


def pagerank_oracle_sql(edges_cte: str, n_iterations: int = 10, damping: float = DAMPING) -> str:
    """Unrolled ANSI-SQL PageRank over the same graph, for the DuckDB oracle.

    `edges_cte` must define a CTE `edges(src, dst)` with canonical src<dst
    rows (it is symmetrized here). Output: (vertex, rank) rounded to 6dp.
    """
    parts = [
        edges_cte,
        """
, sym AS (
  SELECT src, dst FROM edges
  UNION ALL
  SELECT dst AS src, src AS dst FROM edges
)
, verts AS (SELECT DISTINCT src AS vertex FROM sym)
, n AS (SELECT COUNT(*)::DOUBLE AS n FROM verts)
, od AS (SELECT src AS vertex, COUNT(*)::DOUBLE AS out_degree FROM sym GROUP BY src)
, pr0 AS (SELECT vertex, 1.0 / (SELECT n FROM n) AS rank FROM verts)
""",
    ]
    for i in range(1, n_iterations + 1):
        parts.append(
            f"""
, pr{i} AS (
  SELECT v.vertex,
         (1.0 - {damping}) / (SELECT n FROM n)
         + {damping} * COALESCE(c.contrib, 0.0) AS rank
  FROM verts v
  LEFT JOIN (
    SELECT e.dst AS vertex, SUM(p.rank / o.out_degree) AS contrib
    FROM sym e
    JOIN pr{i - 1} p ON p.vertex = e.src
    JOIN od o ON o.vertex = e.src
    GROUP BY e.dst
  ) c ON c.vertex = v.vertex
)"""
        )
    parts.append(f"\nSELECT vertex, ROUND(rank, 6) AS rank FROM pr{n_iterations} ORDER BY vertex")
    return "".join(parts)
