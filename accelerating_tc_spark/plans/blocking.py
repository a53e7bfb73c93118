"""Bounded-shuffle 2D edge blocking for the cogroup triangle count.

Spark analog of TriCore's memory-bounded partition-pair execution
(reference tricore/src/tricount_gpu.cu:103-115 `cal_part_num`,
:337-408 pair loop; SURVEY.md J6), plus the Fox per-edge work estimate
(`tc.cu:18-33`) as a diagnostic.

Design: vertices hash into B blocks; every oriented edge (u,v) carries the
key (block(u), block(v)); the adjacency table is replicated once per role
per block-pair coordinate so a cogrouped applyInArrow task sees exactly
one shard pair — shuffle volume is 2B·|adj| + |edges| and each task's
working set is ~2/B of the adjacency, independent of total graph size.
That bounded replication IS the scale story: B grows with data size so a
task's shard always fits executor memory, mirroring `cal_part_num`.
Hash blocking (vs the reference's contiguous ranges) additionally spreads
degree skew across blocks, and the degree orientation bounds every
out-adjacency — so no equal-work rebinning pass is needed (BENCH.md §5h,
§8b).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def auto_n_blocks(
    cores: int,
    n_adj_entries: int,
    task_budget_bytes: int = 256 << 20,
    min_blocks: int = 8,
    max_blocks: int = 1536,
) -> int:
    """Derive the block count from parallelism + shard size — the
    `cal_part_num` analog (reference tricore/src/tricount_gpu.cu:103-115
    derives partition count from device memory; here the two binding
    resources are straggler amortization and per-task memory):

    - grow B along the {8, 12, 16, 24, 32, ...} ladder until
      B² >= 18·cores: B(B+1)/2 block-pair tasks must out-number the cores
      ~9:1 or size variance leaves cores starved behind stragglers. The
      constant and the ladder (which, unlike pure doubling, can land on
      12/24/48) are measured: at 8 cores B=12 beats both B=8 (15.0s vs
      11.5s) and B=16 (17.2/18.9s vs 14.7/11.9s interleaved); at 32 cores
      B=24 (11.4s) ≈ B=32 (10.9s) ≫ B=16 (12.9s); at 2 cores B=8 ≈ B=4
      (43.5 vs 45.5s) — BENCH.md §6e,
    - grow B until a task's working set (two adjacency shards,
      ~2·entries/B int64s) fits the task budget — the memory bound that
      keeps the plan alive at 100× data.

    Shuffle volume is |E| + 2B·|adj|, linear in B — so B is grown only as
    far as the two rules demand, never "as big as possible".
    """
    def grow(b: int) -> int:
        # ladder: 8, 12, 16, 24, 32, 48, ... (alternating ×1.5, ×4/3)
        return b + b // 2 if b & (b - 1) == 0 else (b * 4) // 3

    # grow(1) == 1 and grow(2)/grow(3) land off-ladder; clamp to the
    # ladder's base so the growth loops always make progress.
    b = max(min_blocks, 4)
    while b * b < 18 * cores and b < max_blocks:
        b = grow(b)
    while (16 * n_adj_entries) // b > task_budget_bytes and b < max_blocks:
        b = grow(b)
    return b


def block_of(col: str | F.Column, n_blocks: int) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.hash(c.cast("long")), F.lit(n_blocks)).cast("int")


def tag_edge_blocks(oriented: DataFrame, n_blocks: int) -> DataFrame:
    """Edges with their 2D block key (bu, bv)."""
    return oriented.select(
        "src",
        "dst",
        block_of("src", n_blocks).alias("bu"),
        block_of("dst", n_blocks).alias("bv"),
    )


def replicate_adjacency(adj: DataFrame, n_blocks: int) -> DataFrame:
    """Replicate adjacency rows to every block-pair coordinate that needs them.

    A vertex in block b serves as the u-side of pairs (b, *) and the v-side of
    pairs (*, b): 2·B copies per row — the bounded, pre-planned shuffle that
    replaces the per-pair device loads of the reference's pair loop.
    """
    blocks = F.sequence(F.lit(0), F.lit(n_blocks - 1))
    base = adj.select(F.col("src").alias("vertex"), "nbrs")
    as_u = base.select(
        "vertex", "nbrs", block_of("vertex", n_blocks).alias("bu"), F.explode(blocks).alias("bv")
    )
    # v-side skips the diagonal (already covered by the u-side) so no
    # distinct is needed.
    as_v = base.select(
        "vertex", "nbrs", F.explode(blocks).alias("bu"), block_of("vertex", n_blocks).alias("bv")
    ).where(F.col("bu") != F.col("bv"))
    return as_u.union(as_v)


def edge_workload(oriented: DataFrame, out_deg: DataFrame) -> DataFrame:
    """Per-edge work estimate (da + db - max)·log2(max + 2), reference Fox/tc.cu:18-33."""
    od_u = out_deg.withColumnRenamed("vertex", "src").withColumnRenamed("out_degree", "od_u")
    od_v = out_deg.withColumnRenamed("vertex", "dst").withColumnRenamed("out_degree", "od_v")
    with_deg = oriented.join(od_u, "src", "left").join(od_v, "dst", "left").fillna(
        0, subset=["od_u", "od_v"]
    )
    mx = F.greatest("od_u", "od_v")
    return with_deg.select(
        "src",
        "dst",
        ((F.col("od_u") + F.col("od_v") - mx) * F.log2(mx + F.lit(2))).alias("workload"),
    )
