"""Binary aggregation tree for DP prefix sums (DP-SQLP Algorithm 4).

Numpy re-implementation of the reference's
``confidentialstorm/enclave/src/main/java/ch/usi/inf/confidentialstorm/enclave/dp/BinaryAggregationTree.java``
(tree layout :21-78, path add :99-120, Honaker prefix sum :131-249,
variance precompute :285-319).

The tree is a complete binary tree stored as a flat heap array of
``2 * 2**ceil(log2(n)) - 1`` doubles, every node pre-seeded with
``N(0, sigma^2)`` noise.  ``add(i, x)`` adds ``x`` to every node on the
leaf->root path; ``prefix_sum(i)`` returns the differentially private
prefix sum over leaves ``[0, i]`` using the bottom-up Honaker
variance-reduction estimate (DP-SQLP Appendix C):

    estimate(v, k) = sum_{j=0}^{k-1} c_j * Sum(level_j of subtree(v))
    c_j            = 2**-j / (2 * (1 - 2**-k))
    Var(v)         = sigma^2 / (2 * (1 - 2**-k))

In heap layout the level-``j`` descendants of node ``v`` occupy the
contiguous index range ``[(v+1)*2**j - 1, (v+1)*2**j - 1 + 2**j)`` which
makes each level sum a single vectorized slice — no per-node traversal.
"""

from __future__ import annotations

import math

import numpy as np

__all__ = ["BinaryAggregationTree"]

# Honaker variance caches are identical for every tree with the same
# (num_leaves,) shape and sigma; share them across the (potentially
# millions of) per-key trees.
_VARIANCE_CACHE: dict[tuple[int, float], np.ndarray] = {}

# The Honaker prefix-sum estimator is LINEAR in the tree values:
# prefix(i) = W[i] . tree, where row i accumulates c_j over every
# level-j slice of every canonical node of [0, i].  W depends only on
# the tree SHAPE, so one dense (num_leaves x size) matrix per shape
# turns every prefix sum — and whole-future prediction scans — into a
# numpy matvec.  (T=100 -> 128x255 = 0.25 MB; T=1000 -> 16 MB, shared
# across all per-key trees in the process.)
_WEIGHT_CACHE: dict[int, np.ndarray] = {}


class BinaryAggregationTree:
    """DP binary aggregation tree over ``n`` time steps.

    Parameters
    ----------
    n:
        number of leaves to support (T time steps); rounded up to the
        next power of two.
    sigma:
        standard deviation of the Gaussian noise pre-seeded into every
        node.  ``sigma=0`` gives a deterministic, exact tree (the
        reference's zero-noise test mode).
    rng:
        numpy Generator used for the noise seed.  The reference uses
        ``SecureRandom`` (untestable); a seeded generator makes noise
        reproducible without changing the distribution.
    """

    __slots__ = ("height", "num_leaves", "sigma", "tree", "_variances", "_weights")

    def __init__(self, n: int, sigma: float, rng: np.random.Generator | None = None):
        if n <= 0:
            raise ValueError("n must be positive")
        size = 2 * (1 << max(0, math.ceil(math.log2(n)))) - 1
        if sigma == 0.0:
            values = np.zeros(size, dtype=np.float64)
        else:
            if rng is None:
                rng = np.random.default_rng()
            values = rng.normal(0.0, sigma, size)
        self._bind(values, sigma)

    @classmethod
    def from_array(cls, values, sigma: float) -> "BinaryAggregationTree":
        """Rebuild a tree from a copy of its flat heap array (e.g. a
        checkpointed ``tree.tobytes()``) without drawing noise."""
        values = np.array(values, dtype=np.float64)
        size = len(values) + 1
        if size < 2 or size & (size - 1):
            raise ValueError(f"{len(values)} values is not a complete binary tree")
        tree = cls.__new__(cls)
        tree._bind(values, sigma)
        return tree

    def _bind(self, values: np.ndarray, sigma: float) -> None:
        self.num_leaves = (len(values) + 1) // 2
        self.height = self.num_leaves.bit_length() - 1
        self.sigma = float(sigma)
        self.tree = values
        self._variances = self._shared_variances(self.num_leaves, self.height, self.sigma)
        self._weights = self._shared_weights(self.num_leaves, self.height)

    # ------------------------------------------------------------------
    # mutation
    # ------------------------------------------------------------------
    def add(self, i: int, x: float) -> None:
        """Add ``x`` to all nodes on the path from leaf ``i`` to the root."""
        idx = self.num_leaves - 1 + i
        tree = self.tree
        while idx > 0:
            tree[idx] += x
            idx = (idx - 1) >> 1
        tree[0] += x

    # ------------------------------------------------------------------
    # queries
    # ------------------------------------------------------------------
    def prefix_sum(self, i: int) -> float:
        """DP prefix sum over leaves ``[0, i]`` with Honaker reduction."""
        return float(self._weights[i] @ self.tree)

    def prefix_sums_from(self, start: int) -> np.ndarray:
        """Vector of prefix sums for leaves ``start .. num_leaves-1`` in
        one matvec — the whole-future scan of the empty-key release
        prediction (Algorithm 3) in one shot."""
        return self._weights[start:] @ self.tree

    def prefix_sum_reference(self, i: int) -> float:
        """Traversal implementation (mirrors the reference's
        getTotalSum loop node-for-node); kept as the oracle the
        weight-matrix fast path is tested against."""
        s_priv = 0.0
        for node, kappa in self._canonical_nodes(i):
            s_priv += self._honaker_estimate(node, kappa)
        return s_priv

    def variance(self, i: int) -> float:
        """Pre-computed Honaker total variance of ``prefix_sum(i)``."""
        return float(self._variances[i])

    # ------------------------------------------------------------------
    # internals
    # ------------------------------------------------------------------
    def _canonical_nodes(self, i: int):
        """Yield ``(node_index, kappa)`` for the canonical decomposition
        of the range ``[0, i]`` (root-to-leaf traversal; a set bit at
        depth ``j`` of ``i+1`` contributes the left sibling at that
        depth, a subtree of height ``kappa = height - j + 1``)."""
        index_binary = i + 1
        node = 0
        height = self.height
        for j in range(height + 1):
            if (index_binary >> (height - j)) & 1:
                if node == 0:
                    left_sibling = 0
                elif node % 2 == 0:
                    left_sibling = node - 1
                else:
                    left_sibling = node
                yield left_sibling, height - j + 1
            if j < height:
                path_bit = (i >> (height - 1 - j)) & 1
                node = 2 * node + 1 + path_bit

    def _honaker_estimate(self, node: int, kappa: int) -> float:
        """Weighted bottom-up estimate for the subtree rooted at ``node``
        with ``kappa`` levels, vectorized one slice per level."""
        tree = self.tree
        norm = 2.0 * (1.0 - 0.5**kappa)
        est = 0.0
        base = node + 1
        for j in range(kappa):
            lo = (base << j) - 1
            hi = lo + (1 << j)
            est += (0.5**j / norm) * float(tree[lo:hi].sum())
        return est

    @classmethod
    def _shared_weights(cls, num_leaves: int, height: int) -> np.ndarray:
        w = _WEIGHT_CACHE.get(num_leaves)
        if w is not None:
            return w
        size = 2 * num_leaves - 1
        w = np.zeros((num_leaves, size), dtype=np.float64)
        # re-run the canonical-node traversal once per leaf, spreading
        # each node's Honaker level weights over its contiguous slices
        proto = cls.__new__(cls)
        proto.height = height
        proto.num_leaves = num_leaves
        for i in range(num_leaves):
            for node, kappa in proto._canonical_nodes(i):
                norm = 2.0 * (1.0 - 0.5**kappa)
                base = node + 1
                for j in range(kappa):
                    lo = (base << j) - 1
                    w[i, lo : lo + (1 << j)] += 0.5**j / norm
        _WEIGHT_CACHE[num_leaves] = w
        return w

    @staticmethod
    def _shared_variances(num_leaves: int, height: int, sigma: float) -> np.ndarray:
        key = (num_leaves, sigma)
        cached = _VARIANCE_CACHE.get(key)
        if cached is not None:
            return cached
        # Var(prefix(i)) = sum over canonical nodes of sigma^2 / (2*(1-2^-kappa)).
        # The kappa multiset for leaf i is determined by the set bits of i+1.
        var = np.zeros(num_leaves, dtype=np.float64)
        sig2 = sigma * sigma
        for i in range(num_leaves):
            index_binary = i + 1
            total = 0.0
            for j in range(height + 1):
                if (index_binary >> (height - j)) & 1:
                    kappa = height - j + 1
                    total += sig2 / (2.0 * (1.0 - 0.5**kappa))
            var[i] = total
        _VARIANCE_CACHE[key] = var
        return var
