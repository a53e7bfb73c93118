"""Distributed dense-ID assignment: semantics + no single-task stage."""

from __future__ import annotations

from pyspark.sql import functions as F

from accelerating_tc_spark.functions.ranking import dense_rank_ids
from accelerating_tc_spark.operators import prep
from accelerating_tc_spark.sources import synthetic


def test_dense_rank_ids_matches_global_order(spark):
    # sparse, shuffled key space
    df = spark.range(0, 2000, 1, 8).select(((F.col("id") * 37) % 4099).alias("v")).distinct()
    ranked = dense_rank_ids(df, ["v"], id_col="rid")
    pdf = ranked.orderBy("v").toPandas()
    assert list(pdf["rid"]) == list(range(len(pdf)))
    # parallel plan: the ranking window partitions by _pid — no global
    # single-partition exchange anywhere in the physical plan (AQE may
    # still coalesce tiny test data at runtime, so assert on the plan).
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_dense_rank_ids_desc_order(spark):
    df = spark.range(0, 500, 1, 4).select(F.col("id").alias("v"))
    ranked = dense_rank_ids(df, [F.desc("v")], id_col="rid")
    pdf = ranked.orderBy("rid").toPandas()
    assert list(pdf["v"]) == list(range(499, -1, -1))


def test_dense_rank_ids_empty(spark):
    df = spark.range(0, 10).select(F.col("id").alias("v")).where(F.lit(False))
    assert dense_rank_ids(df, ["v"]).count() == 0


def test_compact_ids_dense_and_order_preserving(spark):
    edges = synthetic.edges_df(spark, [(100, 5), (5, 900), (900, 7000), (100, 7000)])
    remapped, mapping = prep.compact_ids(edges)
    mp = {r["vertex"]: r["new_id"] for r in mapping.collect()}
    assert mp == {5: 0, 100: 1, 900: 2, 7000: 3}
    got = {(r["src"], r["dst"]) for r in remapped.collect()}
    assert got == {(1, 0), (0, 2), (2, 3), (1, 3)}
