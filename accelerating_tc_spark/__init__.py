"""accelerating_tc_spark — a from-scratch PySpark-native link-graph analytics engine.

Re-creates the capabilities of the reference GPU/CPU triangle-counting study
(pkumod/accelerating-TC, surveyed in SURVEY.md) as idiomatic Spark DataFrame
programs: degree-oriented wedge-join triangle counting, edge orientation and
vertex-ordering machinery, bounded-shuffle 2D edge blocking,
plus the north-star additions (PageRank, connected components, label
propagation as checkpointed supersteps) and a web-page -> edge-table
extraction front end.

Layout
------
- ``session``    : SparkSession builders tuned for this engine.
- ``sources``    : edge-table builders (synthetic, TPC-H projections, web pages).
- ``operators``  : the relational/graph operators (prep, triangles, supersteps,
                   pagerank, components, labelprop, kcore, kclique, dedup,
                   similarity, text, multimodal).
- ``functions``  : vectorized numpy/Arrow kernels used inside pandas UDFs
                   (batch set intersection, per-shard CSR probe).
- ``plans``      : explicit physical-plan constructors (2D blocking, workload
                   estimation, the web-graph pipeline).
"""

__version__ = "0.1.0"
