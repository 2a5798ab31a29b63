"""Streaming DP mechanism (DP-SQLP Algorithms 1-3).

Python re-implementation of the reference's
``confidentialstorm/enclave/src/main/java/ch/usi/inf/confidentialstorm/enclave/dp/StreamingDPMechanism.java``:

- Algorithm 1, streaming private key selection (snapshot :346-416): per
  key, a noisy prefix sum of *new unique users* per round; released iff
  ``noisy >= mu + tau`` with ``tau = sqrt(variance) * Phi^-1(1-beta)``.
- Algorithm 2, hierarchical perturbation (updateHistogramTree :433-456):
  buffer the unreleased delta-V per key; on release add it to the
  histogram tree and publish the noisy cumulative sum.
- Algorithm 3, empty-key release prediction (runEmptyKeyPrediction
  :465-496): for unselected keys seen this step, find the earliest
  future step where noise alone would cross the threshold.
- Round reset after release (resetKeySelectionState :557-561) and
  budget-exhaustion cutoff after T steps (snapshot :315-320).

The reference's double-buffer/lock machinery (:82-96) is unnecessary
here: callers feed one window at a time (in Spark the micro-batch or
epoch partition *is* the window).  ``add_contribution`` + ``snapshot``
keep the reference's exact call protocol for test parity.
"""

from __future__ import annotations

import dataclasses
import math
import secrets

import numpy as np

from .calibration import CompositionMode, calibrate
from .tree import BinaryAggregationTree

__all__ = ["DPParams", "StreamingDPMechanism"]


def _java_round(x: float) -> int:
    """Half-up rounding (Java ``Math.round``); numpy/python round
    half-even which would diverge from the reference on *.5 values."""
    return math.floor(x + 0.5)


class StreamingDPMechanism:
    """Differentially private streaming keyed aggregation.

    Parameters mirror the reference constructor
    (StreamingDPMechanism.java:154-175): noise scales ``sigma_key`` /
    ``sigma_hist``, ``threshold_quantile`` = Phi^-1(1-beta), the time
    budget ``max_time_steps`` (T), the key-selection base threshold
    ``mu``, and ``max_contributions_per_user`` (C, enforced upstream).

    ``rng`` (or ``seed``) makes noise reproducible; ``sigma=0`` is the
    deterministic zero-noise mode used by the correctness oracle.
    """

    def __init__(
        self,
        sigma_key: float,
        sigma_hist: float,
        threshold_quantile: float,
        max_time_steps: int,
        mu: int,
        max_contributions_per_user: int = 32,
        rng: np.random.Generator | None = None,
        seed: int | None = None,
    ):
        if mu < 0:
            raise ValueError("mu must be non-negative")
        if max_contributions_per_user <= 0:
            raise ValueError("max_contributions_per_user must be positive")
        if not math.isfinite(threshold_quantile) or threshold_quantile <= 0:
            raise ValueError("threshold_quantile must be a positive finite value")
        self.sigma_key = float(sigma_key)
        self.sigma_hist = float(sigma_hist)
        self.threshold_quantile = float(threshold_quantile)
        self.max_time_steps = int(max_time_steps)
        self.mu = int(mu)
        self.max_contributions_per_user = int(max_contributions_per_user)
        self.rng = rng if rng is not None else np.random.default_rng(seed)
        # float-rounding slack for the release comparison: ONLY in the
        # deterministic sigma=0 oracle mode (the Honaker matvec returns
        # e.g. 2-2e-16 for an exact 2); with real noise the comparison
        # is the reference's strict >= so boundary behavior matches
        self._slack = 1e-9 if self.sigma_key == 0.0 else 0.0

        self.time_step = 0
        # per-key state (SURVEY §1.3): key-selection forest, histogram
        # forest (lazy), released sums, predictions, observed users,
        # unreleased delta-V buffer
        self._key_selection_forest: dict[str, BinaryAggregationTree] = {}
        self._histogram_forest: dict[str, BinaryAggregationTree] = {}
        self._current_sums: dict[str, float] = {}
        self._predicted_release_times: dict[str, int] = {}
        self._observed_users: dict[str, set] = {}
        self._unreleased_buffer: dict[str, float] = {}
        # staging window (drained by snapshot): per key, the total and
        # the counts of contributing users by their PREVIOUS contribution
        # epoch (-1 = first ever, which is how user-id calls record users
        # new to the observed set); round_start per key makes new-user
        # counting exact without user ids (see add_window_prev_counts)
        self._window_counts: dict[str, float] = {}
        self._window_prev_counts: dict[str, dict[int, int]] = {}
        self._round_start: dict[str, int] = {}
        self._tau_vectors: dict[tuple[int, float], np.ndarray] = {}

    # ------------------------------------------------------------------
    # ingestion
    # ------------------------------------------------------------------
    def add_contribution(self, user_id, key: str, clamped_count: float) -> None:
        """Record one (already clamped and C-bounded) contribution for
        the current window."""
        self.add_window(key, clamped_count, (user_id,))

    def add_window(self, key: str, total: float, users) -> None:
        """Bulk variant: record a whole window's pre-aggregated total
        and unique-user set for ``key`` (what the streaming operator
        feeds after its per-epoch partial aggregation).  Users not yet
        observed this round join the key's observed set now and count
        as first-ever contributors (``prev_epoch = -1``)."""
        observed = self._observed_users.setdefault(key, set())
        n_before = len(observed)
        observed.update(users)
        self.add_window_prev_counts(key, total, ((-1, len(observed) - n_before),))

    def add_window_prev_counts(self, key: str, total: float, prev_counts) -> None:
        """Skew-safe bulk variant: instead of the user-id set, take the
        window's users grouped by their PREVIOUS contribution epoch for
        this key (``-1`` for first-ever) as ``(prev_epoch, n_users)``
        pairs.  A user is NEW this round iff ``prev_epoch <
        round_start``, so the exact new-user count needs only these
        <= T+1 counters — state and message size are independent of key
        cardinality (one key with 10^6 users costs the same as 10).
        Identical semantics to :meth:`add_window`; this is what the
        batch Spark operator ships."""
        self._window_counts[key] = self._window_counts.get(key, 0.0) + float(total)
        pc = self._window_prev_counts.setdefault(key, {})
        for prev, n in prev_counts:
            prev = int(prev)
            pc[prev] = pc.get(prev, 0) + int(n)

    # ------------------------------------------------------------------
    # per-key state rows (the per-key stream's checkpointed state)
    # ------------------------------------------------------------------
    def key_state(self, key: str) -> tuple:
        """One key's release state as a fixed-layout row: the
        key-selection and histogram trees as raw float64 bytes (``b""``
        when absent), then ``time_step``, ``round_start``, the
        unreleased delta-V, the released sum and the predicted release
        step (``-1`` for none).  No user ids: the row covers the
        :meth:`add_window_prev_counts` path, whose state is O(T) per key
        whatever the user count.  Read back by :meth:`load_key_state`."""
        ks = self._key_selection_forest.get(key)
        hist = self._histogram_forest.get(key)
        return (
            b"" if ks is None else ks.tree.tobytes(),
            b"" if hist is None else hist.tree.tobytes(),
            int(self.time_step),
            int(self._round_start.get(key, 0)),
            float(self._unreleased_buffer.get(key, 0.0)),
            float(self._current_sums.get(key, 0.0)),
            int(self._predicted_release_times.get(key, -1)),
        )

    def load_key_state(self, key: str, row) -> None:
        """Restore ``key``'s state (and the step counter) from a
        :meth:`key_state` row; draws no noise."""
        ks, hist, time_step, round_start, unreleased, current_sum, predicted = row
        self.time_step = int(time_step)
        self._round_start[key] = int(round_start)
        if unreleased:
            self._unreleased_buffer[key] = float(unreleased)
        if ks:
            self._key_selection_forest[key] = BinaryAggregationTree.from_array(
                np.frombuffer(ks, dtype=np.float64), self.sigma_key
            )
        if hist:
            self._histogram_forest[key] = BinaryAggregationTree.from_array(
                np.frombuffer(hist, dtype=np.float64), self.sigma_hist
            )
            self._current_sums[key] = float(current_sum)
        if predicted >= 0:
            self._predicted_release_times[key] = int(predicted)

    # ------------------------------------------------------------------
    # snapshot (one triggering time)
    # ------------------------------------------------------------------
    def snapshot(self) -> dict[str, int]:
        """Advance one time step and return the DP histogram
        (cumulative released sums, rounded, negatives clamped to 0,
        sorted by count descending)."""
        window_counts, window_prev_counts = self._window_counts, self._window_prev_counts
        self._window_counts, self._window_prev_counts = {}, {}

        if self.time_step >= self.max_time_steps:
            self._trim_expired_state()
            return self._produce_histogram()

        # keys needing processing: this window's keys + predicted releases due now
        keys_to_process = set(window_counts)
        due = [k for k, t in self._predicted_release_times.items() if t == self.time_step]
        for k in due:
            del self._predicted_release_times[k]
            keys_to_process.add(k)

        # deterministic iteration order (set order varies with Python
        # hash randomization; noise draw order must be reproducible)
        for key in sorted(keys_to_process, key=str):
            appeared = key in window_counts
            count_input = window_counts.get(key, 0.0)

            # Algo 2 step 7: accumulate delta-V since last release
            self._unreleased_buffer[key] = self._unreleased_buffer.get(key, 0.0) + count_input

            # Algo 3 case 1: key appeared before its predicted time -> stale
            predicted = self._predicted_release_times.get(key)
            if appeared and predicted is not None and predicted > self.time_step:
                del self._predicted_release_times[key]

            # Algo 1 step 5: init or reuse the key-selection tree
            tree = self._key_selection_forest.get(key)
            if tree is None:
                tree = BinaryAggregationTree(self.max_time_steps, self.sigma_key, rng=self.rng)
                self._key_selection_forest[key] = tree

            # Algo 1 step 7: count only NEW unique users this round:
            # those whose previous contribution predates the round
            round_start = self._round_start.get(key, 0)
            pc = window_prev_counts.get(key, {})
            new_users = sum(n for prev, n in pc.items() if prev < round_start)
            tree.add(self.time_step, float(new_users))

            # Algo 1 steps 8-9: noisy count vs time-dependent threshold
            noisy_unique = tree.prefix_sum(self.time_step)
            tau = self._tau(tree.variance(self.time_step))
            if noisy_unique >= self.mu + tau - self._slack:
                self._update_histogram_tree(key)
                self._reset_key_selection_state(key)
            elif appeared:
                # Algo 3 steps 2-3: prediction for unselected current keys
                self._run_empty_key_prediction(key, tree)

        self.time_step += 1
        return self._produce_histogram()

    # ------------------------------------------------------------------
    # internals
    # ------------------------------------------------------------------
    def _tau(self, lambda_square: float) -> float:
        return math.sqrt(lambda_square) * self.threshold_quantile

    def _update_histogram_tree(self, key: str) -> None:
        """Algorithm 2: fold the buffered delta-V into the (lazily
        created) histogram tree and publish the noisy cumulative sum."""
        hist = self._histogram_forest.get(key)
        if hist is None:
            hist = BinaryAggregationTree(self.max_time_steps, self.sigma_hist, rng=self.rng)
            self._histogram_forest[key] = hist
        delta_v = self._unreleased_buffer.pop(key, 0.0)
        hist.add(self.time_step, delta_v)
        self._current_sums[key] = hist.prefix_sum(self.time_step)

    def _run_empty_key_prediction(self, key: str, tree: BinaryAggregationTree) -> None:
        """Algorithm 3: earliest future step where the existing noisy
        prefix (no new data) crosses the threshold.  The whole future
        scan is one matvec over the shared Honaker weight matrix
        (SURVEY §7 'hard parts': vectorize the O(T) prediction loop)."""
        if key in self._predicted_release_times:
            return
        start = self.time_step + 1
        if start >= self.max_time_steps:
            return
        end = self.max_time_steps - start  # exclude leaves beyond T
        sums = tree.prefix_sums_from(start)[:end]
        taus = self._tau_vector(tree)[start : start + end]
        hits = np.nonzero(sums >= self.mu + taus - self._slack)[0]
        if hits.size:
            self._predicted_release_times[key] = start + int(hits[0])

    def _tau_vector(self, tree: BinaryAggregationTree) -> np.ndarray:
        """Per-leaf threshold tau = sqrt(variance) * quantile, cached
        per tree shape+sigma (shared across all keys)."""
        cache_key = (tree.num_leaves, tree.sigma)
        vec = self._tau_vectors.get(cache_key)
        if vec is None:
            vec = np.sqrt(tree._variances) * self.threshold_quantile
            self._tau_vectors[cache_key] = vec
        return vec

    def _produce_histogram(self) -> dict[str, int]:
        out = {
            k: max(0, _java_round(v))
            for k, v in sorted(self._current_sums.items(), key=lambda kv: -kv[1])
        }
        return out

    def _reset_key_selection_state(self, key: str) -> None:
        self._key_selection_forest.pop(key, None)
        self._observed_users.pop(key, None)
        self._predicted_release_times.pop(key, None)
        # the new round starts after the releasing step: contributions
        # whose previous epoch is <= time_step count as new again
        self._round_start[key] = self.time_step + 1

    def _trim_expired_state(self) -> None:
        self._key_selection_forest.clear()
        self._histogram_forest.clear()
        self._observed_users.clear()
        self._predicted_release_times.clear()
        self._unreleased_buffer.clear()
        self._window_counts.clear()
        self._window_prev_counts.clear()
        self._round_start.clear()


@dataclasses.dataclass(frozen=True)
class DPParams:
    """Mechanism parameters (mirrors the reference's DPConfig +
    calibration output); :meth:`mechanism` builds every release's
    :class:`StreamingDPMechanism`.

    ``seed=None`` is the only safe production setting: a fixed, known
    seed makes the Gaussian tree noise predictable and subtractable,
    voiding the DP guarantee (the reference uses SecureRandom), so pass
    one ONLY for tests and benchmarks.  With ``None``, each release
    entry point pins one 128-bit secret on the driver when it builds
    its plan (:meth:`for_release`): a second action, a task retry or a
    re-executed micro-batch of that plan re-draws the same noise.  The
    secret is not checkpointed: a stream restarted in a new driver
    draws a new one, so a batch re-run after a crash can still re-draw
    noise for the trees it creates."""

    sigma_key: float
    sigma_hist: float
    threshold_quantile: float
    max_time_steps: int
    mu: int
    max_contributions_per_user: int
    per_record_clamp: float = 1.0
    seed: int | None = None

    @classmethod
    def from_budget(
        cls,
        epsilon: float,
        delta: float,
        c: int,
        t: int,
        mu: int,
        per_record_clamp: float = 1.0,
        alpha: float = 0.5,
        composition: CompositionMode = CompositionMode.ZCDP_LINEAR,
        seed: int | None = None,
    ) -> "DPParams":
        """Paper budget split: eps_k = eps_h = eps/2, delta_k = 2delta/3,
        delta_h = delta/3 (ref DataPerturbationServiceProvider.java:14-35)."""
        cal = calibrate(
            composition, epsilon / 2, delta * 2 / 3, epsilon / 2, delta / 3,
            c, t, per_record_clamp, alpha,
        )
        return cls(
            sigma_key=cal.sigma_key,
            sigma_hist=cal.sigma_hist,
            threshold_quantile=cal.threshold_quantile,
            max_time_steps=t,
            mu=mu,
            max_contributions_per_user=c,
            per_record_clamp=per_record_clamp,
            seed=seed,
        )

    @classmethod
    def zero_noise(cls, t: int, mu: int = 0, c: int = 32, clamp: float = 1.0) -> "DPParams":
        """Deterministic oracle mode (sigma=0), the reference's
        keystone test fixture (StreamingDPMechanismTest:84-86)."""
        return cls(0.0, 0.0, 4.2649, t, mu, c, clamp)

    def for_release(self) -> "DPParams":
        """These parameters with the seed pinned for one release: self
        when seeded, else a copy seeded with a fresh 128-bit secret."""
        if self.seed is not None:
            return self
        return dataclasses.replace(self, seed=secrets.randbits(128))

    def mechanism(self, *stream_id: int) -> StreamingDPMechanism:
        """A fresh mechanism whose noise stream is
        ``default_rng((seed, *stream_id))``: one stream per bucket
        ``(bucket_id,)`` or per key and batch ``(blake2b-128(key),
        first_epoch)``.  Ids must be non-negative.  Needs a seed (see
        :meth:`for_release`)."""
        if self.seed is None:
            raise ValueError("DPParams.mechanism needs a seed; call for_release() first")
        return StreamingDPMechanism(
            self.sigma_key,
            self.sigma_hist,
            self.threshold_quantile,
            self.max_time_steps,
            self.mu,
            self.max_contributions_per_user,
            rng=np.random.default_rng((self.seed, *stream_id)),
        )
