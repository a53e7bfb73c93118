"""Exact triangle counting — one logical plan, three wedge-join strategies
plus the blocked operator with two physical routes.

The logical plan everywhere: orient edges into a DAG (low-degree -> high-degree,
prep.orient_by_degree), then for each oriented edge (u, v) count
|N+(u) ∩ N+(v)|; the global sum is the triangle count. This mirrors the
reference's single logical join realized by many kernels (SURVEY.md §2.3):

- `triangle_count_join`        : pure 3-way self-join (the reference's
  cross-implementation agreement oracle; also what the DuckDB oracle runs).
- `triangle_count_array_intersect` : adjacency join + built-in
  F.array_intersect — stays fully JVM-side / whole-stage codegen.
- `triangle_count_kernel`      : adjacency join + Arrow-batched numpy merge
  kernel (reference J1/J2, org_triangle_count.cpp:56-86 + Hu/tc.cu:69-201).
- `triangle_count_blocked`     : the at-scale operator, two routes chosen at
  runtime — a zero-shuffle broadcast CSR when the oriented adjacency fits
  the per-worker budget, else the bounded-shuffle block-pair cogroup with
  per-shard CSR built in numpy (reference J6, TriCore
  tricore/src/tricount_gpu.cu:337-408) — the 100 TB path.

The degree orientation bounds every out-adjacency by O(sqrt m), so neither
route needs a separate hub path: a Bisson-style broadcast-probe hub route
lost both warmed interleaved A/Bs against the plain cogroup (BENCH.md §5h,
§8b).

All variants return a 1-row DataFrame with column `triangles: long`.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions.csr import CsrShard, intersect_count_csr
from ..functions.intersect import intersect_count_pairs
from ..plans.blocking import auto_n_blocks, replicate_adjacency, tag_edge_blocks
from . import prep


def _as_long_result(df: DataFrame) -> DataFrame:
    return df.select(F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"))


def triangle_count_join(oriented: DataFrame) -> DataFrame:
    """3-way self-join: (u,v),(v,w),(u,w) each counted once on the DAG.

    Catalyst plans this as two shuffled hash/sort-merge joins; it is the
    independent oracle the other variants must agree with (the reference's
    cross-implementation agreement posture, SURVEY.md §5).
    """
    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    e3 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    tri = e1.join(e2, "v").join(e3, ["u", "w"])
    return _as_long_result(tri.agg(F.count(F.lit(1)).alias("triangles")))


def triangle_count_array_intersect(oriented: DataFrame) -> DataFrame:
    """Wedge join with built-in array_intersect — no Python anywhere."""
    adj = prep.adjacency(oriented)
    a_u = adj.withColumnRenamed("nbrs", "nbrs_u")
    a_v = adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("nbrs_v"))
    per_edge = (
        oriented.join(a_u, "src")
        .join(a_v, "dst")
        .select(F.size(F.array_intersect("nbrs_u", "nbrs_v")).alias("c"))
    )
    return _as_long_result(per_edge.agg(F.sum("c").alias("triangles")))


def triangle_count_kernel(oriented: DataFrame) -> DataFrame:
    """Wedge join + Arrow-batched numpy merge-intersect kernel.

    The join is identical to array_intersect's; the count runs in the
    batch-encoded intersect (one intersect1d per Arrow batch), the Spark
    analog of the warp merge kernels (tricore warp_intersection_kernel,
    tricount_gpu.cu:291-334).
    """
    adj = prep.adjacency(oriented)
    a_u = adj.withColumnRenamed("nbrs", "nbrs_u")
    a_v = adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("nbrs_v"))
    joined = oriented.join(a_u, "src").join(a_v, "dst").select("nbrs_u", "nbrs_v")

    @F.pandas_udf("long")
    def isect_count(a: pd.Series, b: pd.Series) -> pd.Series:
        counts = intersect_count_pairs(
            [np.asarray(x, dtype=np.int64) for x in a],
            [np.asarray(x, dtype=np.int64) for x in b],
        )
        return pd.Series(counts)

    per_edge = joined.select(isect_count("nbrs_u", "nbrs_v").alias("c"))
    return _as_long_result(per_edge.agg(F.sum("c").alias("triangles")))


_PARTIAL_SCHEMA = StructType(
    [StructField("triangles", LongType()), StructField("task_s", DoubleType())]
)

# Broadcast-route budget (bytes of int64 adjacency entries): when the WHOLE
# oriented adjacency fits, it is cheaper to ship it once to every worker
# than to replicate per-block shards through a 2B·|adj| shuffle. The budget
# is PER PYTHON WORKER (each concurrent task holds one deserialized copy),
# so size it as overhead_memory / cores, not "as big as a broadcast can be":
# 64 MiB × 32 local workers = 2 GiB peak — comfortable here and on a
# production executor with cores×(128..256 MiB) overhead. Override with
# SPARK_GRAFT_TC_BROADCAST_MAX_MB; 0 disables the route.
import os as _os

_TC_BROADCAST_MAX_BYTES = int(
    _os.environ.get("SPARK_GRAFT_TC_BROADCAST_MAX_MB", "64")
) << 20


def _cogroup_partials(edges_b: DataFrame, adj_rep: DataFrame) -> DataFrame:
    """Block-pair cogroup partial counts: (triangles, task_s) per pair."""
    import pyarrow as pa

    def count_pair(edges_t: "pa.Table", adj_t: "pa.Table") -> "pa.Table":
        t0 = time.time()
        if edges_t.num_rows == 0 or adj_t.num_rows == 0:
            total = 0
        else:
            # zero-copy CSR: Arrow list buffers ARE the flat array + spans;
            # only the vertex column gets argsorted (no per-pair value re-sort).
            shard = CsrShard.from_arrow_lists(
                adj_t.column("vertex").to_numpy(zero_copy_only=False),
                adj_t.column("nbrs"),
            )
            counts = intersect_count_csr(
                shard,
                edges_t.column("src").to_numpy(zero_copy_only=False),
                edges_t.column("dst").to_numpy(zero_copy_only=False),
            )
            total = int(counts.sum())
        return pa.table(
            {
                "triangles": pa.array([total], type=pa.int64()),
                "task_s": pa.array([time.time() - t0], type=pa.float64()),
            }
        )

    return (
        edges_b.groupBy("bu", "bv")
        .cogroup(adj_rep.groupBy("bu", "bv"))
        .applyInArrow(count_pair, schema=_PARTIAL_SCHEMA)
    )


def _broadcast_partials(oriented: DataFrame) -> DataFrame:
    """Single-shard broadcast route (guide §3.1: broadcast the side that
    fits): the whole oriented adjacency is built as one CSR on the driver
    and shipped once; the cached edge partitions stream through the probe
    kernel in place. Zero shuffle (the cogroup route pays |E| + 2B·|adj|
    exchange bytes), no adjacency groupBy, no block replication. Engaged
    at runtime only when 16·|E| bytes fit _TC_BROADCAST_MAX_BYTES, so at
    scale the bounded-shuffle cogroup plan takes over unchanged.

    Returns (partials, broadcast) — the caller unpersists the broadcast
    after its eager action so repeated counts don't accumulate executor
    copies."""
    import pyarrow as pa

    spark = oriented.sparkSession
    # toArrow (Spark 4): the collected batches' int64 buffers feed numpy
    # zero-copy — skips toPandas' block consolidation (~0.1s/pass here)
    tbl = oriented.select("src", "dst").toArrow()
    shard = CsrShard.from_flat(
        tbl.column("src").to_numpy(zero_copy_only=False),
        tbl.column("dst").to_numpy(zero_copy_only=False),
    )
    bc = spark.sparkContext.broadcast(
        (shard.vertices, shard.starts, shard.ends, shard.flat)
    )

    def probe(batches):
        v, s, e, fl = bc.value
        sh = CsrShard(v, s, e, fl)
        for rb in batches:
            t0 = time.time()
            tbl = pa.Table.from_batches([rb])
            src = np.asarray(
                tbl.column("src").to_numpy(zero_copy_only=False), dtype=np.int64
            )
            dst = np.asarray(
                tbl.column("dst").to_numpy(zero_copy_only=False), dtype=np.int64
            )
            total = int(intersect_count_csr(sh, src, dst).sum())
            yield pa.record_batch(
                {
                    "triangles": pa.array([total], type=pa.int64()),
                    "task_s": pa.array([time.time() - t0], type=pa.float64()),
                }
            )

    return oriented.select("src", "dst").mapInArrow(probe, schema=_PARTIAL_SCHEMA), bc


def choose_n_blocks(
    n_edges: int,
    parallelism: int,
    n_blocks: int | None = None,
    allow_broadcast: bool = True,
) -> int:
    """The block count the blocked plan runs for n_edges oriented edges;
    1 means the broadcast-CSR route (auto-B is never below 8). See
    _blocked_partials for the two routes."""
    # the budget's `> 0` keeps the documented kill switch exact: with a 0
    # budget an empty graph (16·0 <= 0) must still take the cogroup route
    if (
        allow_broadcast
        and n_blocks is None
        and 0 < _TC_BROADCAST_MAX_BYTES
        and 16 * n_edges <= _TC_BROADCAST_MAX_BYTES
    ):
        return 1
    if n_blocks is None:
        return auto_n_blocks(parallelism, n_edges)
    return n_blocks


def _blocked_partials(
    oriented: DataFrame,
    n_blocks: int | None = None,
    allow_broadcast: bool = True,
) -> tuple[DataFrame, list, int]:
    """Blocked plan: per-task partial counts (triangles, task_s).

    Returns (partials, broadcasts_to_unpersist, chosen_n_blocks); the route
    and B come from choose_n_blocks. Two physical routes:

    - **broadcast CSR** (_broadcast_partials): taken when n_blocks=None and
      16·|E| bytes fit _TC_BROADCAST_MAX_BYTES; reported as n_blocks=1.
      allow_broadcast=False opts out — used by blocked_task_stats so skew
      diagnostics always describe the cogroup plan.
    - **cogroup** for everything else: vertices hash into n_blocks, each
      cogrouped task gets one (bu, bv) edge block plus exactly the two
      adjacency shards it needs, rebuilds a zero-copy Arrow CSR and runs the
      batch merge kernel. Shuffle volume |edges| + 2·n_blocks·|adj| —
      independent of wedge count (reference TriCore pair loop,
      tricount_gpu.cu:337-408). n_blocks=None auto-derives B from cores +
      adjacency size (plans.blocking.auto_n_blocks, the `cal_part_num`
      analog); an explicit int pins it (A/B tests, cross-round
      comparability) and also pins this route.

    Skew needs no third route: with the degree orientation in force every
    out-adjacency is arboricity-bounded (O(sqrt m)), so the hash-blocked
    cogroup has no wedge-work straggler even under a planted mega-hub
    (BENCH.md §5h, §8b). Only |E| drives the decision, and callers' cached
    `oriented` makes the count ~free.
    """
    b = choose_n_blocks(
        oriented.count(),
        oriented.sparkSession.sparkContext.defaultParallelism,
        n_blocks,
        allow_broadcast,
    )
    if n_blocks is None and b == 1:
        partials, bc = _broadcast_partials(oriented)
        return partials, [bc], 1
    partials = _cogroup_partials(
        tag_edge_blocks(oriented, b),
        replicate_adjacency(prep.adjacency(oriented), b),
    )
    return partials, [], b


def triangle_count_blocked(oriented: DataFrame, n_blocks: int | None = None) -> DataFrame:
    """Bounded-shuffle block-pair triangle count (the at-scale strategy) —
    see _blocked_partials for the two-route plan. The 1-row result is
    materialized eagerly so the broadcast-CSR route's executor copies are
    released before returning — repeated counts never accumulate them."""
    spark = oriented.sparkSession
    partials, caches, _ = _blocked_partials(oriented, n_blocks)
    row = partials.agg(F.coalesce(F.sum("triangles"), F.lit(0)).alias("t")).first()
    for c in caches:
        c.unpersist()
    return spark.createDataFrame([(int(row["t"] or 0),)], "triangles long")


def blocked_task_stats(oriented: DataFrame, n_blocks: int | None = None) -> DataFrame:
    """Skew diagnostics for the cogroup route: one row with the triangle
    sum, the (auto-)chosen block count, and max / median / total per-task
    kernel seconds. Used by bench to show the max/median task time on a
    skewed graph, and to record the auto-B choice per scaling level."""
    spark = oriented.sparkSession
    partials, _, chosen_b = _blocked_partials(oriented, n_blocks, allow_broadcast=False)
    row = partials.agg(
        F.coalesce(F.sum("triangles"), F.lit(0)).cast("long").alias("triangles"),
        F.count(F.lit(1)).alias("n_tasks"),
        F.round(F.max("task_s"), 4).alias("max_task_s"),
        F.round(F.expr("percentile(task_s, 0.5)"), 4).alias("median_task_s"),
        F.round(F.sum("task_s"), 4).alias("total_task_s"),
    ).first()
    return spark.createDataFrame(
        [row.asDict() | {"n_blocks": chosen_b}],
        "triangles long, n_tasks long, max_task_s double, median_task_s double, "
        "total_task_s double, n_blocks int",
    )


def count_triangles(
    edges_raw: DataFrame,
    strategy: str = "blocked",
    n_blocks: int | None = None,
) -> DataFrame:
    """End-to-end pipeline: clean -> degree-orient -> count with the chosen
    strategy. n_blocks=None auto-derives the block count (cal_part_num
    analog); pass an int to pin it."""
    canonical = prep.canonicalize_edges(edges_raw)
    deg = prep.degrees(canonical)
    oriented = prep.orient_by_degree(canonical, deg)
    if strategy == "auto":
        # BENCH.md §3 crossover: the bounded-shuffle blocked plan wins once
        # wedge volume exceeds replication volume (avg degree >= 2*n_blocks);
        # below that, the pure-JVM array_intersect wedge join is cheaper.
        row = deg.agg(F.avg("degree").alias("avg"), F.sum("degree").alias("two_m")).first()
        avg = row["avg"] or 0.0
        b_eff = n_blocks or auto_n_blocks(
            edges_raw.sparkSession.sparkContext.defaultParallelism,
            int(row["two_m"] or 0) // 2,
        )
        strategy = "blocked" if avg >= 2 * b_eff else "array_intersect"
    if strategy == "join":
        return triangle_count_join(oriented)
    if strategy == "array_intersect":
        return triangle_count_array_intersect(oriented)
    if strategy == "kernel":
        return triangle_count_kernel(oriented)
    if strategy == "blocked":
        return triangle_count_blocked(oriented, n_blocks=n_blocks)
    raise ValueError(f"unknown strategy: {strategy}")


def triangle_count_estimate(
    edges_raw: DataFrame, p: float = 0.1, seed: int = 42
) -> DataFrame:
    """DOULION-style sampled estimate (Tsourakakis et al., KDD'09 — public
    result): keep each edge with probability p via a deterministic
    xxhash64 coin, exact-count the sparsified graph, scale by the REALIZED
    keep probability^-3 (the coin quantizes p to floor(p·2^20)/2^20).
    Unbiased; relative error concentrates like 1/sqrt(p^3·T), so p is
    chosen by the accuracy target, independent of graph size. The 100 TB
    use: a p=0.01 pass costs ~p^2 of the blocked count's wedge work and
    sizes the full run (triangle count, skew, block count) before paying
    for it. Returns (triangles_est, sampled_edges, p)."""
    canonical = prep.canonicalize_edges(edges_raw)
    m = 1 << 20
    # The coin is integer-quantized: the REALIZED keep probability is
    # floor(p*m)/m, not p — rescale by the realized value or the estimate
    # carries a small systematic bias (and p < 1/m would silently keep
    # nothing: reject it).
    cut = int(p * m)
    if cut < 1:
        raise ValueError(f"p={p} below coin resolution 1/{m}: keeps zero edges")
    p_real = cut / m
    kept = canonical.where(
        F.pmod(F.xxhash64("src", "dst", F.lit(seed)), F.lit(m)) < cut
    )
    row = triangle_count_blocked(prep.orient_by_degree(kept)).first()
    n_kept = kept.count()
    est = int(round(int(row["triangles"]) / (p_real**3)))
    spark = edges_raw.sparkSession
    # p column carries the REALIZED probability so the row is
    # self-consistent: triangles_est == round(sampled_triangles / p^3)
    # recomputed by a consumer from this row's own values.
    return spark.createDataFrame(
        [(est, n_kept, float(p_real))],
        "triangles_est long, sampled_edges long, p double",
    )


def local_clustering(edges_raw: DataFrame) -> DataFrame:
    """(vertex, degree, tri_cnt, clustering) — per-vertex triangle counts and
    the local clustering coefficient 2T(v)/(d(v)(d(v)-1)); 0.0 for degree<2.
    SQL-expressible (3-way-join corners), so fully oracle-checkable."""
    canonical = prep.canonicalize_edges(edges_raw)
    deg = prep.degrees(canonical)
    oriented = prep.orient_by_degree(canonical, deg)
    tri = per_vertex_triangle_counts(oriented)
    d = F.col("degree")
    t = F.coalesce(F.col("tri_cnt"), F.lit(0))
    return deg.join(tri, "vertex", "left").select(
        "vertex",
        d.cast("long").alias("degree"),
        t.cast("long").alias("tri_cnt"),
        F.when(d >= 2, F.round(2.0 * t / (d * (d - 1)), 6)).otherwise(F.lit(0.0)).alias(
            "clustering"
        ),
    )


def per_vertex_triangle_counts(oriented: DataFrame) -> DataFrame:
    """(vertex, tri_cnt) — triangles incident to each vertex, via the same
    DAG join; every triangle (u,v,w) credits all three corners."""
    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    e3 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    tri = e1.join(e2, "v").join(e3, ["u", "w"])
    corners = tri.select(F.explode(F.array("u", "v", "w")).alias("vertex"))
    return corners.groupBy("vertex").agg(F.count(F.lit(1)).alias("tri_cnt"))
