"""Sorted-set intersection kernels (vectorized numpy; Arrow-batched at the UDF layer).

The reference implements ~15 SIMD set-intersection variants (QFilter, BSR,
shuffling, galloping — reference `vertex_ordering/other_order/src/set_operation.cpp`
and `intersection_algos.cpp`, SURVEY.md §2.7). On Spark one batch kernel
covers the wedge-join strategy: **batch merge** (`intersect_count_pairs`),
one C-speed membership probe over a whole Arrow batch of (set_a, set_b)
pairs, using a row-id encoding so a single call intersects every pair at
once — the analog of the scalar/SIMD merge family (reference
`set_operation.cpp:112-144`). Its sorted fast path probes the smaller
encoded stream into the larger with searchsorted, i.e. galloping. The
blocked routes use the CSR kernel in functions/csr.py.

No per-row Python in the hot path: every function takes whole batches and
loops, when it must, over *rows* with C-speed per-row ops — never over
elements.
"""

from __future__ import annotations

import numpy as np


def intersect_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Scalar-merge reference oracle (reference `set_operation.cpp:112-127`)."""
    return np.intersect1d(np.asarray(a, dtype=np.int64), np.asarray(b, dtype=np.int64))


def _concat_ragged(arrs) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Flatten a sequence of int arrays -> (flat values, row ids, lengths)."""
    n = len(arrs)
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        flat = np.empty(0, dtype=np.int64)
    else:
        flat = np.concatenate([np.asarray(a, dtype=np.int64) for a in arrs])
    row_ids = np.repeat(np.arange(n, dtype=np.int64), lens)
    return flat, row_ids, lens


def _is_nondecreasing(x: np.ndarray) -> bool:
    """O(n) monotonicity probe — ~1% of the cost of the sort it avoids."""
    return x.size < 2 or bool(np.all(x[1:] >= x[:-1]))


def encoded_intersect_counts(
    enc_a: np.ndarray, rows_a: np.ndarray, enc_b: np.ndarray, rows_b: np.ndarray, n: int
) -> np.ndarray:
    """Per-row hit counts between two row-encoded value streams.

    Fast path: when BOTH encoded streams are already globally sorted — true
    by construction whenever row ids are emitted non-decreasing and each
    row's values are sorted (sort_array adjacency), the invariant of every
    caller in this repo — the O((A+B)·log(A+B)) sort hiding inside
    np.intersect1d is pure waste; a searchsorted membership probe of the
    smaller stream into the larger costs O(min·log max) with no allocation
    of a sorted copy. On the blocked-TC wedge workload the sort is the
    single largest term in the whole job (BENCH.md §7, r5), so this is a
    kernel-level ~2-4x. Falls back to intersect1d when either stream
    arrives unsorted (an O(n) probe decides)."""
    if _is_nondecreasing(enc_a) and _is_nondecreasing(enc_b):
        if enc_a.size <= enc_b.size:
            probe, table, probe_rows = enc_a, enc_b, rows_a
        else:
            probe, table, probe_rows = enc_b, enc_a, rows_b
        idx = np.searchsorted(table, probe)
        idx_c = np.minimum(idx, table.size - 1)
        found = table[idx_c] == probe
        return np.bincount(probe_rows[found], minlength=n).astype(np.int64)
    hits_a = np.isin(enc_a, enc_b, assume_unique=True)
    return np.bincount(rows_a[hits_a], minlength=n).astype(np.int64)


def intersect_count_pairs(a_sets, b_sets) -> np.ndarray:
    """Count |a ∩ b| for each pair in a batch, with ONE vectorized pass.

    Each side must be a sequence of sorted, distinct int arrays (adjacency
    sets). Values are encoded as ``row_id * stride + value`` so one global
    sorted membership probe resolves every row simultaneously — the whole
    Arrow batch is processed by a handful of numpy C calls, regardless of
    row count (see encoded_intersect_counts for the sorted fast path).
    """
    n = len(a_sets)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    flat_a, rows_a, _ = _concat_ragged(a_sets)
    flat_b, rows_b, _ = _concat_ragged(b_sets)
    if flat_a.size == 0 or flat_b.size == 0:
        return np.zeros(n, dtype=np.int64)
    # shift to a non-negative base (common offset preserves intersections;
    # negative values would silently collide in the row encoding)
    off = np.int64(min(flat_a.min(), flat_b.min()))
    max_v = np.int64(max(flat_a.max(), flat_b.max())) - off + 1
    # Guard the encoding against int64 overflow: n * max_v must fit.
    if max_v > 0 and n > (np.iinfo(np.int64).max // max_v):
        # Fallback: per-row intersect (still C-speed per row).
        return np.fromiter(
            (np.intersect1d(a, b, assume_unique=True).size for a, b in zip(a_sets, b_sets)),
            dtype=np.int64,
            count=n,
        )
    enc_a = rows_a * max_v + (flat_a - off)
    enc_b = rows_b * max_v + (flat_b - off)
    return encoded_intersect_counts(enc_a, rows_a, enc_b, rows_b, n)
