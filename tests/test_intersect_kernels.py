"""Differential tests of every intersection kernel against the scalar-merge
oracle, mirroring the reference's `check_result`
(exp/test_intersection_algos.cpp:102-127) and its randomized parameter grid
(exp/random_data_generator.cpp:4-45)."""

from __future__ import annotations

import numpy as np
import pytest

from accelerating_tc_spark.functions.intersect import intersect_count_pairs, intersect_sorted


def random_sorted_set(rng, length: int, universe: int) -> np.ndarray:
    if length == 0:
        return np.empty(0, dtype=np.int64)
    return np.sort(rng.choice(universe, size=min(length, universe), replace=False)).astype(np.int64)


# parameter grid per FIXTURES.md §3
LENS = [0, 1, 7, 100, 10_000]
SKEWS = [1, 10, 1000]


@pytest.mark.parametrize("len_a", LENS)
@pytest.mark.parametrize("skew", SKEWS)
def test_kernels_match_scalar_merge(len_a, skew):
    rng = np.random.default_rng(42 + len_a + skew)
    len_b = max(len_a // skew, 0)
    universe = max(4 * (len_a + len_b), 16)
    a = random_sorted_set(rng, len_a, universe)
    b = random_sorted_set(rng, len_b, universe)
    expected = len(intersect_sorted(a, b))
    assert intersect_count_pairs([a], [b])[0] == expected


def test_batch_kernel_many_pairs():
    rng = np.random.default_rng(7)
    a_sets, b_sets, expected = [], [], []
    for i in range(200):
        a = random_sorted_set(rng, int(rng.integers(0, 50)), 200)
        b = random_sorted_set(rng, int(rng.integers(0, 50)), 200)
        a_sets.append(a)
        b_sets.append(b)
        expected.append(len(np.intersect1d(a, b)))
    got = intersect_count_pairs(a_sets, b_sets)
    assert got.tolist() == expected


def test_empty_batch():
    assert intersect_count_pairs([], []).tolist() == []
