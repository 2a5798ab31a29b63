"""Streaming curation: the batch funnel's filter stages on a live
document stream.

The batch ``curation_funnel`` computes its stage predicates with
doc_id-keyed feature joins (fine in batch; stream-stream joins would
need watermark plumbing).  For ingestion-time filtering every stage
predicate is expressible as a PURE per-row column expression, so the
whole quality gate is stateless — it fuses into the stream's scan
exactly like any projection — and only the final exact-dedup stage
carries state (the digest store of :func:`~.stateful.dedup_stream`).

This is the Spark-first shape for "filter the crawl as it lands":
stateless predicates scale with input rate (no shuffle, no state),
and the one stateful stage is the one that semantically needs memory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import words
from ..operators.funnel import FUNNEL_DEFAULTS
from .stateful import dedup_stream

__all__ = ["quality_predicate", "curation_filter_stream"]


def quality_predicate(text: Column) -> Column:
    """The funnel's quality/repetition/length stages as ONE boolean
    expression at the funnel's default thresholds: token count, alpha
    ratio, per-doc duplicated-word fraction, char length.  Pure per-row
    arithmetic — streamable, codegen-fused, no joins."""
    ws = words(text)
    n_tokens = F.size(ws)
    n_chars = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
    alpha_ratio = n_alpha.cast("double") / F.greatest(n_chars, F.lit(1))
    dup_word_frac = F.when(n_tokens > 0,
        1.0 - F.size(F.array_distinct(ws)).cast("double") / n_tokens
    ).otherwise(F.lit(0.0))
    return (
        (n_tokens >= FUNNEL_DEFAULTS["min_tokens"])
        & (alpha_ratio >= FUNNEL_DEFAULTS["min_alpha_ratio"])
        & (dup_word_frac <= FUNNEL_DEFAULTS["max_dup_word_frac"])
        & (n_chars >= FUNNEL_DEFAULTS["min_chars"])
    )


def curation_filter_stream(docs: DataFrame) -> DataFrame:
    """Ingestion-time curation of a streaming document source: drop
    rows whose ``text`` fails :func:`quality_predicate`, then drop
    exact-content duplicates across the stream's lifetime.  Survivor
    rows pass through with their original schema."""
    return dedup_stream(docs.filter(quality_predicate(F.col("text"))))
