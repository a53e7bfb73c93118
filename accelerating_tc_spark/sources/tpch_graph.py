"""Deterministic edge tables derived from the driver's TPC-H-ish parquet.

The reference consumes SNAP-style edge lists; our correctness gate runs on
the driver's star-schema tables, so graph queries derive their edge table
from those deterministically. The canonical graph is the **part co-purchase
graph**: an undirected edge between two parts whenever they appear in the
same order (lineitem self-join on l_orderkey). This yields a skewed,
triangle-rich graph whose construction is exactly expressible in ANSI SQL —
so the DuckDB oracle can build the identical graph (FIXTURES.md §7).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The same derivation, as a SQL CTE body reusable by oracle_sql() strings.
COPURCHASE_EDGES_SQL = """
SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
FROM lineitem a
JOIN lineitem b ON a.l_orderkey = b.l_orderkey
WHERE a.l_partkey < b.l_partkey
"""

# Skewed fixture: mod-5 sparsified co-purchase graph UNION a planted
# mega-hub — vertex 1 adjacent to EVERY part (degree ≈ |parts|, hundreds of
# times the sparsified average). Exercises the hub route of the blocked
# triangle count; exactly expressible in SQL so the oracle builds the same
# graph.
COPURCHASE_HUB_EDGES_SQL = """
SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
FROM lineitem a
JOIN lineitem b ON a.l_orderkey = b.l_orderkey
WHERE a.l_partkey < b.l_partkey AND (a.l_partkey + b.l_partkey) % 5 = 0
UNION
SELECT DISTINCT 1 AS src, l_partkey AS dst
FROM lineitem WHERE l_partkey > 1
"""


# DIRECTED co-purchase graph for the directed-structure operators (SCC):
# co-purchased part pairs pass a symmetric mod-7 sparsifier, then each
# ordered direction survives independently iff the asymmetric mod rule
# fires (~2/5 per orientation) — mixing 2-cycles (seeding multi-vertex
# SCCs) with one-way edges (tendrils). The sparsifier matters: the raw
# co-purchase graph is dense enough that its directed closure is ONE
# all-vertex SCC (measured at sf0.001 and sf0.01) — degenerate for the
# operator. This rule yields a crawl-like bowtie instead: at sf0.01,
# SCCs of 286/567/569/571 vertices plus singleton tendrils.
COPURCHASE_DIRECTED_SQL = """
SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
FROM lineitem a
JOIN lineitem b ON a.l_orderkey = b.l_orderkey
WHERE a.l_partkey <> b.l_partkey
  AND (a.l_partkey + b.l_partkey) % 7 = 0
  AND (a.l_partkey * 7 + b.l_partkey * 3) % 5 < 2
"""


# BOW-TIE fixture: the plain directed graph above is structurally closed —
# the (src+dst) % 7 = 0 rule only connects residue classes {r, 7-r}, so the
# four class-islands {0},{1,6},{2,5},{3,4} have NO cross edges and the
# bow-tie's in/out sets are empty by construction. Adding one-way bridge
# edges p -> p+1 (sparse: p % 13 = 0) restricted to p % 7 in (0,1,2) makes
# cross-class movement a DAG on class indices (0->1->2->3) — bridges can
# never close a cycle, so the SCC islands stay intact while forward/backward
# reachability to the giant SCC becomes rich: at sf0.01 core=571, in=286,
# out=1140, other=3 (all four classes populated).
BOWTIE_EDGES_SQL = (
    COPURCHASE_DIRECTED_SQL
    + """
UNION
SELECT DISTINCT l_partkey AS src, l_partkey + 1 AS dst
FROM lineitem WHERE l_partkey % 13 = 0 AND l_partkey % 7 IN (0, 1, 2)
"""
)


def bowtie_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edge table matching BOWTIE_EDGES_SQL."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey"
    )
    bridges = (
        li.where((F.col("l_partkey") % 13 == 0) & (F.col("l_partkey") % 7).isin(0, 1, 2))
        .select(
            F.col("l_partkey").cast("long").alias("src"),
            (F.col("l_partkey") + 1).cast("long").alias("dst"),
        )
        .distinct()
    )
    return copurchase_directed_edges(spark, sf_dir).union(bridges).distinct()


def copurchase_directed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edge table matching COPURCHASE_DIRECTED_SQL."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey"
    )
    a = li.withColumnRenamed("l_partkey", "src")
    b = li.withColumnRenamed("l_partkey", "dst")
    return (
        a.join(b, "l_orderkey")
        .where(
            (F.col("src") != F.col("dst"))
            & ((F.col("src") + F.col("dst")) % 7 == 0)
            & ((F.col("src") * 7 + F.col("dst") * 3) % 5 < 2)
        )
        .select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .distinct()
    )


def copurchase_hub_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical skewed edge table matching COPURCHASE_HUB_EDGES_SQL."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey"
    )
    a = li.withColumnRenamed("l_partkey", "src")
    b = li.withColumnRenamed("l_partkey", "dst")
    sparsified = (
        a.join(b, "l_orderkey")
        .where((F.col("src") < F.col("dst")) & ((F.col("src") + F.col("dst")) % 5 == 0))
        .select(F.col("src").cast("long"), F.col("dst").cast("long"))
    )
    hub = li.where(F.col("l_partkey") > 1).select(
        F.lit(1).cast("long").alias("src"), F.col("l_partkey").cast("long").alias("dst")
    )
    return sparsified.union(hub).distinct()


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (src < dst, distinct, no loops) part co-purchase edges."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey"
    )
    a = li.withColumnRenamed("l_partkey", "src")
    b = li.withColumnRenamed("l_partkey", "dst")
    return (
        a.join(b, "l_orderkey")
        .where(F.col("src") < F.col("dst"))
        .select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .distinct()
    )
