"""Streaming HyperLogLog — bounded-memory distinct counts per
event-time window on a live stream.

Streaming ``COUNT(DISTINCT)`` is the canonical unbounded-state trap:
exact dedup state grows with distinct values per window.  The HLL
register relation caps it at m=4096 rows per (window, key) whatever
the cardinality — and because the md5 register math here is the SAME
as the batch operator's (``operators/sketches.py``), the streaming
estimate is bit-identical to the batch estimate over the same rows
(differential-tested).

Mechanism: Spark 4 supports CHAINED stateful aggregations in append
mode — ``groupBy(window, key, register).max(rho)`` followed by
``groupBy(window, key).sum/count`` — with the watermark closing both
levels; the finishing harmonic-sum arithmetic is stateless column
math on the second aggregation's output.  Register state evicts with
the watermark like any windowed aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketches import HLL_M, _HLL_ALPHA, _HLL_RANK_BITS, _hll_bucket, _hll_rho

__all__ = ["hll_distinct_stream", "histogram_quantiles_stream", "vocab_kl_stream", "hashed_ref_probs"]


def hll_distinct_stream(
    events: DataFrame,
    value_col: str,
    key_cols: list[str],
    window: str = "1 minute",
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Append-mode per-window HLL distinct counts over event time
    ``ts``: ``(window_start, window_end, *key_cols, approx_distinct)``
    — one row per closed window, estimate identical to the batch
    :func:`operators.sketches.hll_distinct` over the same rows."""
    v = F.col(value_col).cast("string")
    regs = (
        events.withWatermark("ts", watermark_delay)
        .groupBy(
            F.window(F.col("ts"), window),
            *[F.col(c) for c in key_cols],
            _hll_bucket(v).alias("_b"),
        )
        .agg(F.max(_hll_rho(v)).alias("_rho"))
    )
    per_key = regs.groupBy("window", *key_cols).agg(
        F.sum(
            F.expr(f"CAST(power(2.0, {_HLL_RANK_BITS + 1} - _rho) AS BIGINT)")
        ).alias("_s_hit"),
        F.count(F.lit(1)).alias("_hit"),
    )
    m, scale = HLL_M, float(1 << (_HLL_RANK_BITS + 1))
    v_empty = F.lit(m) - F.col("_hit")
    s_full = F.col("_s_hit") + v_empty * F.lit(1 << (_HLL_RANK_BITS + 1))
    e_raw = F.lit(_HLL_ALPHA * m * m * scale) / s_full.cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v_empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty.cast("double")),
    ).otherwise(e_raw)
    return per_key.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *key_cols,
        F.round(est, 4).alias("approx_distinct"),
    )


def histogram_quantiles_stream(
    events: DataFrame,
    value_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    width: int = 10,
    n_buckets: int = 64,
    window: str = "1 minute",
    watermark_delay: str = "1 minute",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Append-mode per-window quantile estimates over event time ``ts``
    with BOUNDED state — the streaming twin of
    :func:`operators.sketches.histogram_quantiles`
    (exact percentiles keep the window's whole value set in state; the
    equi-width sketch from 0 keeps <= ``n_buckets`` integer counts).

    Same chained-aggregation shape as :func:`hll_distinct_stream`:
    ``groupBy(window, bucket).count()`` then
    ``groupBy(window).collect_list`` — the watermark closes both
    levels, and the finishing interpolation is stateless column math
    over the one <=``n_buckets``-entry array row per closed window.
    Because the sketch is integer counts + one final division, the
    per-window estimate is BIT-IDENTICAL to the batch operator over
    the same rows (differential-tested), independent of micro-batch
    chopping or partition order.

    ``key_cols`` adds per-key quantiles (state: <= n_buckets counts
    per (window, key) — e.g. per-event-type value percentiles).

    Output: ``(window_start, window_end, *key_cols, q, est)``."""
    nb = n_buckets
    b = F.least(
        F.greatest(F.floor(F.col(value_col) / width).cast("long"), F.lit(0)),
        F.lit(nb - 1),
    )
    keys = list(key_cols or [])
    per_bucket = (
        events.withWatermark("ts", watermark_delay)
        .groupBy(
            F.window(F.col("ts"), window),
            *[F.col(k) for k in keys],
            b.alias("_b"),
        )
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    packed = per_bucket.groupBy("window", *keys).agg(
        F.sort_array(F.collect_list(F.struct("_b", "_c"))).alias("_h")
    )
    n_tot = F.aggregate(
        F.col("_h"), F.lit(0).cast("long"), lambda a, x: a + x["_c"]
    )

    def est_for(q: float) -> F.Column:
        target = F.ceil(F.lit(float(q)) * F.col("_n")).cast("long")
        zero = F.lit(0).cast("long")
        acc0 = F.struct(
            zero.alias("cum"),
            F.lit(-1).cast("long").alias("b"),
            zero.alias("c"),
            zero.alias("cb"),
        )

        def step(a, x):
            cum = a["cum"] + x["_c"]
            hit = (a["b"] == -1) & (cum >= target)
            return F.struct(
                cum.alias("cum"),
                F.when(hit, x["_b"]).otherwise(a["b"]).alias("b"),
                F.when(hit, x["_c"]).otherwise(a["c"]).alias("c"),
                F.when(hit, cum).otherwise(a["cb"]).alias("cb"),
            )

        f = F.aggregate(F.col("_h"), acc0, step)
        est = (
            f["b"] * F.lit(float(width))
            + F.lit(float(width)) * (target - (f["cb"] - f["c"])) / f["c"]
        )
        return F.round(est, 6)

    with_n = packed.withColumn("_n", n_tot)
    pairs = F.explode(
        F.array(*[F.struct(F.lit(float(q)).alias("q"), est_for(q).alias("est")) for q in qs])
    ).alias("_qe")
    return with_n.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *keys,
        pairs,
    ).select(
        "window_start",
        "window_end",
        *keys,
        F.col("_qe.q").alias("q"),
        F.col("_qe.est").alias("est"),
    )


def vocab_kl_stream(
    events: DataFrame,
    text_col: str,
    ref_probs: list[float],
    window: str = "1 minute",
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Per-window (event time ``ts``) vocabulary-drift monitor with
    BOUNDED state: KL of each closed window's hashed-unigram
    distribution against a fixed reference — the streaming answer to
    "is today's crawl shifting?"
    (batch sibling: ``operators/drift.py::vocab_kl_topk``, which keeps
    the exact union vocabulary and therefore can't run windowed).

    Words hash into ``len(ref_probs)`` bins (md5, the same bucket map
    as :func:`hashed_ref_probs`, so reference and stream always share
    the space); per window the state is the <= B bin counts (chained
    windowed aggs, append mode), and the finishing math — add-alpha
    smoothing over the bins (alpha = 0.5), then KL(P_window || Q_ref) — is stateless
    column arithmetic.  Absent bins contribute through a closed form
    (all absent bins share p0 = alpha/(N + alpha*B)), so the result is
    the EXACT KL over all B bins, not a present-bin approximation.

    Output: ``(window_start, window_end, n_tokens, kl)``."""
    import math

    from ..functions.text import words

    alpha = 0.5
    B = len(ref_probs)
    q = [float(x) for x in ref_probs]
    if any(x <= 0 for x in q):
        raise ValueError("ref_probs must be strictly positive (smooth the reference)")
    slnq = sum(math.log(x) for x in q)
    q_arr = F.array(*[F.lit(x) for x in q])

    w = F.explode(words(F.col(text_col))).alias("_w")
    b = (
        F.conv(F.substring(F.md5(F.col("_w")), 1, 8), 16, 10).cast("long") % B
    ).alias("_b")
    per_bin = (
        events.withWatermark("ts", watermark_delay)
        .select(F.col("ts"), w)
        .select(F.window(F.col("ts"), window).alias("window"), b)
        .groupBy("window", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # sort_array pins the double-summation order of the finishing fold
    # (collect_list order is otherwise partition-dependent), so the
    # rounded KL is a pure function of the window's rows
    packed = per_bin.groupBy("window").agg(
        F.sort_array(F.collect_list(F.struct("_b", "_c"))).alias("_h")
    )
    n_tok = F.aggregate(F.col("_h"), F.lit(0).cast("long"), lambda a, x: a + x["_c"])
    with_n = packed.withColumn("_n", n_tok)

    denom = F.col("_n").cast("double") + F.lit(alpha * B)
    p0 = F.lit(alpha) / denom
    # all-absent baseline: sum_i p0 ln(p0/q_i) = B p0 ln p0 - p0 * sum(ln q_i)
    base = F.lit(float(B)) * p0 * F.log(p0) - p0 * F.lit(slnq)

    def corr(a, x):
        p = (x["_c"].cast("double") + F.lit(alpha)) / denom
        lnq = F.log(F.element_at(q_arr, (x["_b"] + 1).cast("int")))
        return a + (p * F.log(p) - p * lnq) - (p0 * F.log(p0) - p0 * lnq)

    kl = base + F.aggregate(F.col("_h"), F.lit(0.0), corr)
    return with_n.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        F.col("_n").alias("n_tokens"),
        F.round(kl, 6).alias("kl"),
    )


def hashed_ref_probs(texts: list[str], n_bins: int = 1024, alpha: float = 0.5) -> list[float]:
    """Build the reference bin distribution for :func:`vocab_kl_stream`
    from a reference corpus, with the SAME md5 bucket map the stream
    uses and the same add-alpha smoothing (so KL(ref || ref) == 0 in
    the limit and every bin is strictly positive).  Driver-side pure
    Python — the reference is a sample, not a corpus scan; at scale
    compute the counts in Spark with the identical bucket expression
    and pass them here."""
    import hashlib
    import re

    counts = [0] * n_bins
    n = 0
    for t in texts:
        # same tokenization as functions.text.words: lowercase, split
        # on non-word runs, drop empties.  Java regex \W is ASCII-only
        # ([^a-zA-Z0-9_]) while Python's is Unicode-aware, so spell the
        # ASCII class out — otherwise non-ASCII words bin differently
        # between the reference and the stream and bias the KL.
        for wd in re.split(r"[^a-zA-Z0-9_]+", t.lower()):
            if not wd:
                continue
            counts[int(hashlib.md5(wd.encode()).hexdigest()[:8], 16) % n_bins] += 1
            n += 1
    denom = n + alpha * n_bins
    return [(c + alpha) / denom for c in counts]


def hashed_ref_probs_spark(
    df: DataFrame, n_bins: int = 1024, alpha: float = 0.5
) -> list[float]:
    """Spark-side twin of :func:`hashed_ref_probs`: the reference
    corpus (its ``text`` column) stays a DataFrame, the
    hashed-unigram bin counts are aggregated in one distributed pass
    (explode -> md5 bucket -> groupBy), and only ``n_bins``
    (bin, count) rows come back to the driver — never the text
    itself.  Bucket map and tokenization are the exact expressions
    :func:`vocab_kl_stream` applies to the stream
    (``functions.text.words`` + ``md5(w)[:8] % n_bins``), so
    the resulting distribution is bit-identical to the pure-Python
    builder on the same rows."""
    from ..functions.text import words

    rows = (
        df.select(F.explode(words(F.col("text"))).alias("_w"))
        .select(
            (
                F.conv(F.substring(F.md5("_w"), 1, 8), 16, 10).cast("long")
                % n_bins
            ).alias("_b")
        )
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .collect()
    )
    counts = [0] * n_bins
    n = 0
    for r in rows:
        counts[int(r._b)] = int(r._c)
        n += int(r._c)
    denom = n + alpha * n_bins
    return [(c + alpha) / denom for c in counts]
