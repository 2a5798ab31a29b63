"""StreamingDPMechanism tests.

Mirrors the reference suite (StreamingDPMechanismTest.java):
zero-noise exactness (:93-138), cumulative carry-forward (:271-300),
hot/cold key-selection gates (:228-264), sensitivity-1 user dedup
(:331-346), and small statistical noise checks (:145-221).
"""

import numpy as np
import pytest

from confidential_storm_spark.dp import DPParams, StreamingDPMechanism

T = 100
QUANTILE = 4.2649  # Phi^-1(1 - 1e-5), the reference's test quantile


def zero_noise(mu=0, t=T):
    return StreamingDPMechanism(0.0, 0.0, QUANTILE, t, mu, 32, seed=1)


def low_noise(mu=5, sigma_key=1.0, sigma_hist=2.0, t=T, seed=0):
    return StreamingDPMechanism(sigma_key, sigma_hist, QUANTILE, t, mu, 32, seed=seed)


def test_zero_noise_single_key_exact():
    m = zero_noise(mu=0)
    for i in range(10):
        m.add_contribution(f"user{i}", "keyA", 1.0)
    result = None
    for _ in range(5):
        result = m.snapshot()
    assert result["keyA"] == 10


def test_zero_noise_multi_key_exact():
    m = zero_noise(mu=5)
    counts = {"k0": 20, "k1": 7, "k2": 33}
    for key, n in counts.items():
        for i in range(n):
            m.add_contribution(f"{key}-u{i}", key, 1.0)
    result = m.snapshot()
    assert result == {"k2": 33, "k0": 20, "k1": 7}
    # descending order preserved
    assert list(result) == ["k2", "k0", "k1"]


def test_zero_noise_cumulative_carry_forward():
    """Released sums accumulate across epochs and silent keys carry
    forward (ref :271-300)."""
    m = zero_noise(mu=0)
    for i in range(4):
        m.add_contribution(f"u{i}", "hot", 2.0)
    m.add_contribution("solo", "cold", 1.0)
    r1 = m.snapshot()
    assert r1 == {"hot": 8, "cold": 1}
    # epoch 1: only hot gets more data; cold must carry forward
    for i in range(4, 6):
        m.add_contribution(f"u{i}", "hot", 2.0)
    r2 = m.snapshot()
    assert r2["hot"] == 12
    assert r2["cold"] == 1
    # epoch 2: nothing at all; both carry forward
    r3 = m.snapshot()
    assert r3 == {"hot": 12, "cold": 1}


def test_zero_noise_mu_gates_release():
    """With mu=5 and zero noise a key needs >= 5 cumulative unique
    users in its round before it is released."""
    m = zero_noise(mu=5)
    for i in range(3):
        m.add_contribution(f"u{i}", "k", 1.0)
    assert "k" not in m.snapshot()  # 3 users < mu
    for i in range(3, 5):
        m.add_contribution(f"u{i}", "k", 1.0)
    r = m.snapshot()  # cumulative 5 users >= mu
    assert r["k"] == 5


def test_user_dedup_sensitivity_one():
    """Repeated contributions from one user count once toward key
    selection (ref :331-346) but all count toward the sum."""
    m = zero_noise(mu=5)
    for _ in range(10):
        m.add_contribution("same-user", "k", 1.0)
    assert "k" not in m.snapshot()  # 1 unique user < mu=5
    # add 4 more distinct users -> released; sum includes all 14 rows
    for i in range(4):
        m.add_contribution(f"u{i}", "k", 1.0)
    r = m.snapshot()
    assert r["k"] == 14


def test_round_reset_after_release():
    """After a release the key-selection round restarts: the same users
    do NOT re-qualify the key (observed set is cleared, tree dropped)."""
    m = zero_noise(mu=3)
    for i in range(3):
        m.add_contribution(f"u{i}", "k", 1.0)
    assert m.snapshot()["k"] == 3
    # same 3 users again: new round counts them as new users again
    for i in range(3):
        m.add_contribution(f"u{i}", "k", 1.0)
    assert m.snapshot()["k"] == 6


def test_hot_key_released_cold_key_not():
    """Hot key (500 users >> mu+tau) always released; cold key
    (1 user) essentially never (ref :228-264)."""
    released_hot = released_cold = 0
    for seed in range(5):
        m = low_noise(mu=5, sigma_key=1.0, sigma_hist=2.0, seed=seed)
        for i in range(500):
            m.add_contribution(f"hot-u{i}", "hot", 1.0)
        m.add_contribution("cold-u", "cold", 1.0)
        r = m.snapshot()
        released_hot += "hot" in r
        released_cold += "cold" in r
    assert released_hot == 5
    assert released_cold == 0


def test_noise_bias_converges_to_zero():
    """Mean error over repeated runs converges to ~0 (ref :145-176,
    shrunk to keep test wall-time bounded)."""
    runs, true_count = 60, 200
    errs = []
    for seed in range(runs):
        m = low_noise(mu=0, sigma_key=1.0, sigma_hist=2.0, seed=seed)
        for i in range(true_count):
            m.add_contribution(f"u{i}", "k", 1.0)
        r = m.snapshot()
        errs.append(r.get("k", 0) - true_count)
    errs = np.asarray(errs, dtype=float)
    # std of the mean ~ sigma_hist_effective/sqrt(runs); allow 4 sigma
    assert abs(errs.mean()) < 4 * errs.std() / np.sqrt(runs) + 1.0


def test_budget_exhaustion_stops_mutation():
    m = zero_noise(mu=0, t=3)
    for i in range(5):
        m.add_contribution(f"u{i}", "k", 1.0)
    r = m.snapshot()
    assert r["k"] == 5
    m.snapshot()
    m.snapshot()
    # t=3 exhausted: new data must be ignored, histogram frozen
    m.add_contribution("u9", "k", 100.0)
    r = m.snapshot()
    assert r["k"] == 5


def test_key_state_size_independent_of_users():
    """No user ids in a key's state row: feed one key 10 vs 100,000
    users and the row is the SAME SIZE (the trees depend on T only);
    the row round-trips exactly and the restored mechanism evolves
    identically afterwards."""
    p = DPParams(0.0, 0.0, QUANTILE, 64, 0, 32, seed=0)

    def row_size(n_users: int) -> int:
        m = p.mechanism(0)
        m.add_window_prev_counts("k", float(n_users), [(-1, n_users)])
        m.snapshot()
        row = m.key_state("k")
        return sum(len(x) for x in row[:2]) + 8 * (len(row) - 2)

    assert row_size(10) == row_size(100_000)
    m = p.mechanism(0)
    m.add_window_prev_counts("k", 7.0, [(-1, 7)])
    m.snapshot()
    row = m.key_state("k")
    m2 = p.mechanism(0)
    m2.load_key_state("k", row)
    assert m2.key_state("k") == row
    m.add_window_prev_counts("k", 3.0, [(-1, 2), (0, 1)])
    m2.add_window_prev_counts("k", 3.0, [(-1, 2), (0, 1)])
    assert m.snapshot() == m2.snapshot()


def test_key_state_round_trip_keeps_noisy_trees():
    """sigma > 0: a restored key holds both noisy trees bit-for-bit,
    and its next snapshot matches the original's."""
    p = DPParams(1.0, 2.0, QUANTILE, 16, 2, 32, seed=3)
    m = p.mechanism(0)
    m.add_window_prev_counts("k", 50.0, [(-1, 50)])
    assert "k" in m.snapshot()  # released: histogram tree exists
    m.add_window_prev_counts("k", 1.0, [(0, 1)])
    m.snapshot()  # one repeat user: not released, new selection tree
    row = m.key_state("k")
    assert len(row[0]) == len(row[1]) == 31 * 8
    assert row[5] != 50.0  # the released sum carries noise
    m2 = p.mechanism(1)  # another noise stream: restoring draws nothing
    m2.load_key_state("k", row)
    assert m2.key_state("k") == row
    for mech in (m, m2):
        mech.add_window_prev_counts("k", 40.0, [(-1, 40)])
    assert m.snapshot() == m2.snapshot()
    assert m.key_state("k") == m2.key_state("k")


def test_dpparams_mechanism_is_the_seeded_stream():
    """``DPParams.mechanism(*ids)`` draws from ``default_rng((seed,
    *ids))``; an unseeded DPParams must be pinned first, and pinning
    draws a fresh secret per release."""
    p = DPParams(1.0, 2.0, QUANTILE, 16, 0, 32, seed=7)
    a = p.mechanism(3, 5)
    b = StreamingDPMechanism(1.0, 2.0, QUANTILE, 16, 0, 32, rng=np.random.default_rng((7, 3, 5)))
    for mech in (a, b):
        for i in range(20):
            mech.add_contribution(f"u{i}", "k", 1.0)
    assert a.snapshot() == b.snapshot()
    assert a.key_state("k") == b.key_state("k")
    assert p.for_release() is p
    unseeded = DPParams(1.0, 2.0, QUANTILE, 16, 0, 32)
    with pytest.raises(ValueError):
        unseeded.mechanism(0)
    r1, r2 = unseeded.for_release(), unseeded.for_release()
    assert r1.seed is not None and r1.seed != r2.seed
    assert r1.mechanism(0).rng.normal() == r1.mechanism(0).rng.normal()
