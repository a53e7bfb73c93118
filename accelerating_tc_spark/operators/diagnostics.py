"""Orientation- and layout-quality diagnostics (reference tools/, SURVEY.md
A9/A10/A11).

`orientation_balance_cost` (A9) lives in prep.py as a DataFrame agg; the
approximation-ratio bound (A10, reference tools/approximateRatio.cpp:42-94)
is a closed-form scalar over the degree histogram, so it runs driver-side
on the (tiny) histogram result — semantics re-expressed from the reference:

- lb_opt   : sum over degrees d <= avg of (avg - d) * count[d]
- lb_opt2  : case split on the high-degree vertex mass
- ub - opt : greedy water-filling of the remaining high-degree edge mass
- ratio    = 1 + (ub - opt) / (lb_opt + lb_opt2)

`compression_ratio` (A11, reference porder.cpp:295-351 `comp_ratio`) is
two distinct-count aggregates over the edge table.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PACK_SHIFT = 6  # 64-bit words (matches functions/intersect.py)


def approximation_ratio(degree_hist: pd.DataFrame, n_vertices: int, n_edges: int) -> float:
    """degree_hist: columns (degree, n_vertices) — prep.degree_histogram()
    result collected to pandas. Returns the orientation approximation-ratio
    upper bound; float('inf') when the lower bound is zero (regular graphs).
    """
    counts = dict(zip(degree_hist["degree"].astype(int), degree_hist["n_vertices"].astype(int)))
    avg_outd = n_edges / n_vertices
    dmax = max(counts) if counts else 0

    sum_low = sum_high = 0.0
    n_high = 0
    for d, c in counts.items():
        if d <= avg_outd:
            sum_low += d * c
        else:
            sum_high += d * c
            n_high += c

    lb_opt = sum(c * (avg_outd - d) for d, c in counts.items() if 1 <= d <= avg_outd)

    if n_high == 0:
        lb_opt2 = 0.0
    elif (sum_high / n_high / 2) >= avg_outd:
        lb_opt2 = max((sum_high - sum_low) / 2 - avg_outd * n_high, 0.0)
    else:
        lb_opt2 = avg_outd * n_high - sum_high / 2

    remain = sum(c * d / 2 for d, c in counts.items() if d > avg_outd)
    ub_minus_opt = 0.0
    dx = int(avg_outd) + 1
    while remain > 0 and dx <= dmax + n_vertices:
        cnt = counts.get(dx, 0)
        if remain > dx * cnt:
            ub_minus_opt += avg_outd * cnt
            remain -= dx * cnt
            dx += 1
        else:
            ub_minus_opt += avg_outd * remain / dx
            break

    denom = lb_opt + lb_opt2
    if denom <= 0:
        return float("inf")
    return 1.0 + ub_minus_opt / denom


def compression_ratio(canonical: DataFrame) -> DataFrame:
    """A11: BSR compression-ratio diagnostic — distinct 64-value base words
    per adjacency entry, for the forward (src->dst) and reverse lists; lower
    = denser bitmaps. One row: (out_comp_ratio, in_comp_ratio, comp_ratio)."""
    m = canonical.count()
    out_bases = (
        canonical.groupBy("src")
        .agg(F.count_distinct(F.shiftright("dst", _PACK_SHIFT)).alias("b"))
        .agg(F.sum("b").alias("t"))
        .first()["t"]
    )
    in_bases = (
        canonical.groupBy("dst")
        .agg(F.count_distinct(F.shiftright("src", _PACK_SHIFT)).alias("b"))
        .agg(F.sum("b").alias("t"))
        .first()["t"]
    )
    out_r = out_bases / m if m else 0.0
    in_r = in_bases / m if m else 0.0
    return canonical.sparkSession.createDataFrame(
        [(round(out_r, 6), round(in_r, 6), round((out_r + in_r) / 2, 6))],
        "out_comp_ratio double, in_comp_ratio double, comp_ratio double",
    )
