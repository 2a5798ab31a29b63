"""Pure-Python DP-SQLP core (Spark-independent).

Mirrors the reference's enclave DP package:
- tree.py        BinaryAggregationTree (Algorithm 4 + Honaker, ref
                 confidentialstorm/enclave/.../dp/BinaryAggregationTree.java)
- calibration.py DPUtil noise calibration (ref .../util/DPUtil.java)
- mechanism.py   StreamingDPMechanism (Algorithms 1-3, ref
                 .../dp/StreamingDPMechanism.java), which packs its own
                 per-key state rows, and DPParams, whose ``mechanism``
                 is the one construction site (and noise seeding)
- bounding.py    UserContributionLimiter (ref .../dp/UserContributionLimiter.java)
- zipf.py        Zipf-Mandelbrot sampler (ref examples/synthetic-benchmark-
                 baseline/.../util/ZipfMandelbrotDistribution.java)
"""

from .tree import BinaryAggregationTree
from .calibration import (
    CompositionMode,
    DpCalibration,
    PerRoundBudget,
    calibrate,
    calculate_sigma,
    cdp_rho,
    compute_beta,
    gaussian_share_delta,
    key_selection_per_round_budget,
    key_selection_per_round_budget_optimal,
    key_selection_round_budget,
    l1_sensitivity,
    threshold_quantile,
)
from .mechanism import DPParams, StreamingDPMechanism
from .bounding import UserContributionLimiter
from .zipf import ZipfMandelbrot

__all__ = [
    "BinaryAggregationTree",
    "CompositionMode",
    "DPParams",
    "DpCalibration",
    "PerRoundBudget",
    "StreamingDPMechanism",
    "UserContributionLimiter",
    "ZipfMandelbrot",
    "calibrate",
    "calculate_sigma",
    "cdp_rho",
    "compute_beta",
    "gaussian_share_delta",
    "key_selection_per_round_budget",
    "key_selection_per_round_budget_optimal",
    "key_selection_round_budget",
    "l1_sensitivity",
    "threshold_quantile",
]
