"""HITS (hubs & authorities) as checkpointed DataFrame supersteps.

Link-graph companion to PageRank (north-star addition): on a directed web
graph, an iteration sets auth(v) = Σ hub(u) over in-edges u→v, then
hub(u) = Σ auth(v) over out-edges u→v, each L2-normalized — Kleinberg's
classic algorithm (JACM '99, public result).

Spark shape mirrors `pagerank.py`: the edge table is computed once,
cached and hash-partitioned on each join key (one copy partitioned by
src, one by dst), so every superstep shuffles only the small score
table. The L2 normalizer is a 1-row aggregate cross-joined in lazily —
no per-round `.collect()`; each round's score frames are lineage-cut
once so the normalizer's double reference cannot compound across
rounds. Deterministic fixed-iteration mode + 6-decimal rounding
lets the unrolled-SQL DuckDB oracle match hash-exactly (same contract
pattern as `pagerank_oracle_sql`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import supersteps


def hits_run(
    spark: SparkSession,
    edges: DataFrame,
    n_iterations: int = 10,
    checkpoint_dir: str | None = None,
) -> "supersteps.SuperstepRun":
    """Full SuperstepRun for HITS over the DIRECTED edge table (src, dst).

    `run.state` is (vertex, hub, auth) after n_iterations; both score
    vectors are L2-normalized over the full vertex set each round.
    Vertices with no out-edges hold hub=0, no in-edges hold auth=0 —
    they stay in the state so the output covers the whole vertex set.
    """
    n_part = spark.sparkContext.defaultParallelism
    e = edges.select("src", "dst")
    verts = (
        e.select(F.col("src").alias("vertex"))
        .union(e.select(F.col("dst").alias("vertex")))
        .distinct()
        .repartition(n_part, "vertex")
        .cache()
    )
    verts.count()
    # Two pre-partitioned copies: the auth update joins hub scores on src,
    # the hub update joins fresh auth scores on dst. Each copy is
    # partitioned on ITS join key so rounds shuffle only the score table.
    e_by_src = e.repartition(n_part, "src").cache()
    e_by_dst = e.repartition(n_part, "dst").cache()
    e_by_src.count()
    e_by_dst.count()

    init = verts.select(
        "vertex", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
    )

    def _l2_normalized(scores: DataFrame, col: str) -> DataFrame:
        # Lazy scalar normalizer: 1-row aggregate cross-joined in, never
        # collected on the driver.
        norm = scores.agg(
            F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_norm")
        )
        return scores.crossJoin(F.broadcast(norm)).select(
            *[c for c in scores.columns if c != col],
            F.when(F.col("_norm") > 0.0, F.col(col) / F.col("_norm"))
            .otherwise(F.lit(0.0))
            .alias(col),
        )

    # Intra-round lineage cuts: the lazy normalizer references its input
    # twice (norm aggregate + the scaled select) and auth_n feeds both the
    # hub update and the final state join, so an uncut round re-executes
    # each upstream subtree 2-4x — compounding MULTIPLICATIVELY across the
    # lazy rounds between iterate()'s cuts (measured: the sf0.01 contract
    # row fell 405 s -> well under a minute once each score frame is
    # materialized exactly once per round). The cutter bounds the
    # localCheckpoint chain with periodic parquet hard cuts (the Spark 4.1
    # chained-localCheckpoint cliff, see supersteps.LineageCutter).
    cutter = supersteps.LineageCutter(spark, prefix="hits-cut-")

    def step(state: DataFrame, i: int) -> DataFrame:
        hub_scores = state.select("vertex", "hub")
        auth_raw = (
            e_by_src.join(hub_scores, e_by_src["src"] == hub_scores["vertex"])
            .groupBy(F.col("dst").alias("vertex"))
            .agg(F.sum("hub").alias("auth"))
        )
        auth_full = cutter.cut(
            verts.join(auth_raw, "vertex", "left").select(
                "vertex", F.coalesce("auth", F.lit(0.0)).alias("auth")
            )
        )
        auth_n = cutter.cut(_l2_normalized(auth_full, "auth"))
        hub_raw = (
            e_by_dst.join(auth_n, e_by_dst["dst"] == auth_n["vertex"])
            .groupBy(F.col("src").alias("vertex"))
            .agg(F.sum("auth").alias("hub"))
        )
        hub_full = cutter.cut(
            verts.join(hub_raw, "vertex", "left").select(
                "vertex", F.coalesce("hub", F.lit(0.0)).alias("hub")
            )
        )
        hub_n = _l2_normalized(hub_full, "hub")
        return (
            hub_n.join(auth_n, "vertex")
            .select("vertex", "hub", "auth")
        )

    with cutter:
        run = supersteps.iterate(
            spark,
            init,
            step,
            max_iterations=n_iterations,
            checkpoint_dir=checkpoint_dir,
            checkpoint_every=3,
            helpers=(verts, e_by_src, e_by_dst),
        )
        # the final state may lazily read a cutter scratch slot; close()
        # re-anchors it in block storage before the scratch dir is removed
        run.state = cutter.close(run.state)
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
