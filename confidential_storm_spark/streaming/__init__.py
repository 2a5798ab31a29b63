"""Structured Streaming pipelines (SURVEY §7 Phase 3).

The reference's streaming semantics map onto Structured Streaming:
tick interval (T1) -> trigger; ZooKeeper epoch barrier (T2) -> the
micro-batch barrier itself; per-enclave operator state (§1.3) -> the
state store via ``applyInPandasWithState``.
"""

from .curation import curation_filter_stream, quality_predicate
from .joins import enrich_stream, interval_join_streams
from .keyed import (
    dp_histogram_stream_keyed,
    prev_epoch_counts_stream,
    run_keyed_dp_available_now,
    stamp_epoch_stream,
)
from .sessions import session_stats_stream
from .sketches import (
    hashed_ref_probs,
    hashed_ref_probs_spark,
    histogram_quantiles_stream,
    hll_distinct_stream,
    vocab_kl_stream,
)
from .trending import top_k_per_window, windowed_wordcounts_stream
from .stateful import (
    bloom_dedup_stream,
    bound_contributions_stream,
    dedup_stream,
    dp_histogram_stream,
    replay_filter_stream,
)

__all__ = [
    "bloom_dedup_stream",
    "enrich_stream",
    "interval_join_streams",
    "top_k_per_window",
    "windowed_wordcounts_stream",
    "hll_distinct_stream",
    "histogram_quantiles_stream",
    "vocab_kl_stream",
    "hashed_ref_probs",
    "hashed_ref_probs_spark",
    "bound_contributions_stream",
    "curation_filter_stream",
    "quality_predicate",
    "dedup_stream",
    "dp_histogram_stream",
    "dp_histogram_stream_keyed",
    "prev_epoch_counts_stream",
    "run_keyed_dp_available_now",
    "replay_filter_stream",
    "session_stats_stream",
    "stamp_epoch_stream",
]
