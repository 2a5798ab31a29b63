"""BinaryAggregationTree tests.

Mirrors the reference's equivalence suite
(BinaryAggregationTreeTest.java:28-60): at sigma=0 the Honaker prefix
sum must equal the exact prefix sum for sizes {2, 16, 128, 1024, 2048},
plus variance-cache sanity checks.
"""

import math

import numpy as np
import pytest

from confidential_storm_spark.dp import BinaryAggregationTree


@pytest.mark.parametrize("n", [2, 16, 100, 128, 1024, 2048])
def test_zero_noise_prefix_sums_exact(n):
    rng = np.random.default_rng(7)
    values = rng.integers(0, 50, size=n).astype(float)
    tree = BinaryAggregationTree(n, sigma=0.0)
    exact = 0.0
    for i, x in enumerate(values):
        tree.add(i, x)
        exact += x
        assert tree.prefix_sum(i) == pytest.approx(exact, abs=1e-9)


def test_zero_noise_sparse_updates():
    # leaves written out of order / skipped leaves stay zero
    tree = BinaryAggregationTree(100, sigma=0.0)
    tree.add(10, 5.0)
    tree.add(50, 7.0)
    assert tree.prefix_sum(9) == pytest.approx(0.0)
    assert tree.prefix_sum(10) == pytest.approx(5.0)
    assert tree.prefix_sum(49) == pytest.approx(5.0)
    assert tree.prefix_sum(99) == pytest.approx(12.0)


def test_variance_cache_shape_and_positivity():
    sigma = 3.0
    tree = BinaryAggregationTree(100, sigma=sigma)
    # leaf 0: canonical decomposition is a single leaf node => kappa=1
    # => Var = sigma^2 / (2 * (1 - 1/2)) = sigma^2
    assert tree.variance(0) == pytest.approx(sigma * sigma)
    for i in range(128):
        assert tree.variance(i) > 0
    # the full-range prefix (i = num_leaves-1) uses the root alone:
    # kappa = height+1 => variance = sigma^2 / (2 * (1 - 2^-(h+1)))
    h = tree.height
    expected = sigma * sigma / (2 * (1 - 2.0 ** -(h + 1)))
    assert tree.variance(tree.num_leaves - 1) == pytest.approx(expected)


def test_noise_reproducible_with_seed():
    rng1 = np.random.default_rng(123)
    rng2 = np.random.default_rng(123)
    t1 = BinaryAggregationTree(64, sigma=2.0, rng=rng1)
    t2 = BinaryAggregationTree(64, sigma=2.0, rng=rng2)
    assert np.allclose(t1.tree, t2.tree)
    assert t1.prefix_sum(13) == pytest.approx(t2.prefix_sum(13))


def test_from_array_rebuilds_tree():
    t = BinaryAggregationTree(10, sigma=2.0, rng=np.random.default_rng(5))
    t.add(3, 4.0)
    r = BinaryAggregationTree.from_array(np.frombuffer(t.tree.tobytes()), 2.0)
    assert r.num_leaves == 16 and r.height == t.height
    assert r.tree.tobytes() == t.tree.tobytes() and r.tree is not t.tree
    assert [r.prefix_sum(i) for i in range(16)] == [t.prefix_sum(i) for i in range(16)]
    assert r.variance(9) == t.variance(9)
    with pytest.raises(ValueError):
        BinaryAggregationTree.from_array(np.zeros(4), 2.0)


def test_honaker_estimate_unbiased_at_scale():
    # with pure noise (no data) the prefix-sum estimator has mean 0 and
    # variance matching the precomputed cache (statistical check)
    n, sigma, runs = 64, 1.0, 400
    i = 37
    rng = np.random.default_rng(99)
    samples = []
    for _ in range(runs):
        tree = BinaryAggregationTree(n, sigma=sigma, rng=rng)
        samples.append(tree.prefix_sum(i))
    samples = np.asarray(samples)
    var_expected = BinaryAggregationTree(n, sigma=sigma, rng=rng).variance(i)
    assert abs(samples.mean()) < 4 * math.sqrt(var_expected / runs)
    assert samples.var() == pytest.approx(var_expected, rel=0.35)
