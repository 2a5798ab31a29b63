"""Property-based tests (hypothesis) for the pure DP core.

The reference has no property framework (SURVEY §5); these go beyond
its example-based suite: random streams are checked against
independent naive models.
"""

import math

import numpy as np
from hypothesis import given, settings, strategies as st

from confidential_storm_spark.dp import BinaryAggregationTree, StreamingDPMechanism
from confidential_storm_spark.dp.calibration import calculate_sigma, cdp_delta, cdp_rho
from confidential_storm_spark.functions.replay import ReplayWindow


# ---------------------------------------------------------------------------
# tree: weight-matrix fast path == reference traversal, any shape/updates
# ---------------------------------------------------------------------------
@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(2, 300),
    updates=st.lists(
        st.tuples(st.integers(0, 10_000), st.floats(-100, 100)), min_size=1, max_size=40
    ),
    query=st.integers(0, 10_000),
)
def test_tree_matvec_equals_traversal(n, updates, query):
    t = BinaryAggregationTree(n, sigma=0.7, rng=np.random.default_rng(1))
    for leaf, x in updates:
        t.add(leaf % t.num_leaves, x)
    i = query % t.num_leaves
    assert t.prefix_sum(i) == pytest_approx(t.prefix_sum_reference(i))


def pytest_approx(x, rel=1e-9, abs_=1e-7):
    import pytest

    return pytest.approx(x, rel=rel, abs=abs_)


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(2, 256),
    values=st.lists(st.floats(0, 50), min_size=1, max_size=30),
)
def test_tree_zero_noise_prefix_exact(n, values):
    t = BinaryAggregationTree(n, sigma=0.0)
    total = 0.0
    for i, v in enumerate(values[: t.num_leaves]):
        t.add(i, v)
        total += v
        assert t.prefix_sum(i) == pytest_approx(total)


# ---------------------------------------------------------------------------
# replay window vs model
# ---------------------------------------------------------------------------
@settings(max_examples=60, deadline=None)
@given(seqs=st.lists(st.integers(-5, 400), min_size=1, max_size=120))
def test_replay_window_vs_model(seqs):
    """Model: accept iff seq >= 0, seq > max_seen - W, and seq not
    accepted/invalidated before; a jump clears history (tracked via the
    in-window set only)."""
    W = 128
    w = ReplayWindow()
    seen: set[int] = set()
    max_seen = -1
    for s in seqs:
        expected = s >= 0 and (max_seen < 0 or s > max_seen - W) and s not in seen
        got = w.accept(s)
        assert got == expected, (s, max_seen, sorted(seen)[-5:])
        if expected:
            seen.add(s)
            max_seen = max(max_seen, s)
            # model forgets anything now below the window
            seen = {x for x in seen if x > max_seen - W}


# ---------------------------------------------------------------------------
# calibration: structural properties
# ---------------------------------------------------------------------------
@settings(max_examples=25, deadline=None)
@given(
    eps=st.floats(0.1, 10.0),
    delta=st.floats(1e-12, 1e-3),
)
def test_cdp_rho_is_tight_inverse(eps, delta):
    rho = cdp_rho(eps, delta)
    assert 0 < rho <= eps + 1
    assert cdp_delta(rho, eps) <= delta * (1 + 1e-6)
    # monotone: more delta budget -> at least as much rho
    assert cdp_rho(eps, min(delta * 10, 0.5)) >= rho - 1e-12


@settings(max_examples=25, deadline=None)
@given(rho=st.floats(1e-4, 5.0), t=st.integers(2, 4096), sens=st.floats(0.1, 64))
def test_sigma_scaling(rho, t, sens):
    sigma = calculate_sigma(rho, t, sens)
    assert sigma > 0
    # sigma = L sqrt(ceil(log2 T)/(2 rho)): linear in L, 1/sqrt in rho
    assert calculate_sigma(rho, t, 2 * sens) == pytest_approx(2 * sigma)
    assert calculate_sigma(4 * rho, t, sens) == pytest_approx(sigma / 2)


# ---------------------------------------------------------------------------
# zero-noise mechanism vs naive model over random streams
# ---------------------------------------------------------------------------
@settings(max_examples=40, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 7),   # user
            st.integers(0, 3),   # key
            st.integers(0, 5),   # epoch
        ),
        min_size=1,
        max_size=60,
    ),
    mu=st.integers(0, 4),
)
def test_zero_noise_mechanism_vs_naive_model(events, mu):
    """Naive model of Algorithms 1-2 at sigma=0: per key track
    (observed users this round, unreleased sum, released cumulative);
    release when round-unique-users >= mu, then reset the round."""
    T = 6
    mech = StreamingDPMechanism(0.0, 0.0, 4.2649, T, mu, 32, seed=0)
    by_epoch: dict[int, list] = {}
    for u, k, ep in events:
        by_epoch.setdefault(ep, []).append((f"u{u}", f"k{k}"))

    model_observed: dict[str, set] = {}
    model_unreleased: dict[str, float] = {}
    model_released: dict[str, float] = {}
    result = {}
    for ep in range(T):
        batch = by_epoch.get(ep, [])
        for u, k in batch:
            mech.add_contribution(u, k, 1.0)
        result = mech.snapshot()
        # model step
        window_users: dict[str, set] = {}
        window_counts: dict[str, int] = {}
        for u, k in batch:
            window_users.setdefault(k, set()).add(u)
            window_counts[k] = window_counts.get(k, 0) + 1
        for k in window_counts:
            model_unreleased[k] = model_unreleased.get(k, 0.0) + window_counts[k]
            obs = model_observed.setdefault(k, set())
            obs |= window_users[k]
            if len(obs) >= mu:
                model_released[k] = model_released.get(k, 0.0) + model_unreleased.pop(k, 0.0)
                model_observed.pop(k)
    expected = {k: int(v) for k, v in model_released.items()}
    assert result == dict(sorted(expected.items(), key=lambda kv: -kv[1]))


# ---------------------------------------------------------------------------
# mechanism: prev-epoch-counter ingestion == user-set ingestion on ANY stream
# (the skew-safe batch statistic must be semantically invisible)
# ---------------------------------------------------------------------------
@settings(max_examples=40, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 11),  # epoch
            st.integers(0, 3),   # key id
            st.integers(0, 15),  # user id
        ),
        min_size=1,
        max_size=120,
    ),
    mu=st.integers(0, 6),
)
def test_prev_counts_equivalent_to_user_sets(events, mu):
    T = 12

    def run_sets():
        m = StreamingDPMechanism(0.0, 0.0, 4.2649, T, mu, 32)
        hists = []
        for ep in range(T):
            agg = {}
            for e, k, u in events:
                if e == ep:
                    tot_users = agg.setdefault(f"k{k}", [0.0, set()])
                    tot_users[0] += 1.0
                    tot_users[1].add(u)
            for key, (tot, us) in sorted(agg.items()):
                m.add_window(key, tot, us)
            hists.append(m.snapshot())
        return hists

    def run_prev():
        from collections import defaultdict

        per_user = defaultdict(set)
        totals = defaultdict(float)
        for e, k, u in events:
            per_user[(f"k{k}", u)].add(e)
            totals[(f"k{k}", e)] += 1.0
        pc = defaultdict(lambda: defaultdict(int))
        for (key, _u), eps in per_user.items():
            s = sorted(eps)
            for i, e in enumerate(s):
                pc[(key, e)][s[i - 1] if i > 0 else -1] += 1
        m = StreamingDPMechanism(0.0, 0.0, 4.2649, T, mu, 32)
        hists = []
        for ep in range(T):
            for (key, e), tot in sorted(totals.items()):
                if e == ep:
                    m.add_window_prev_counts(key, tot, pc[(key, e)].items())
            hists.append(m.snapshot())
        return hists

    # equal at EVERY epoch, not just the end (round resets included)
    assert run_sets() == run_prev()
