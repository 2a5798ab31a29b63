"""Trained quality classifier: a linear probe on hashed bag-of-words
features, trained by full-batch gradient descent ON the cluster —
the CCNet/fastText-style quality-filter shape (bootstrap labels from
rules, train a cheap model, score everything).

Spark-first and BIT-EXACT across engines and partition layouts:

- **Features are JVM-built**: explode ``words()``, md5-bucket hash
  (the repo's cross-engine fingerprint convention), per-doc term
  frequency ``cnt / doc_total``, plus an explicit bias feature.  A
  skinny ``(doc_id, bucket, v)`` sparse relation — never a dense
  vector column.
- **Each GD iteration is ONE shuffle, zero Python**: the corpus
  reduces once to per-doc sparse arrays (doc_id, [(bucket, v)], y);
  each iteration computes residuals in a map stage (weights inlined
  as a literal map — no broadcast, no join) and aggregates the
  gradient with one explode+groupBy and a (dim+1)-row collect.
  Weights live driver-side like k-means centroids (at dim ≫ 1e5,
  flip _wmap back to a broadcast join and shard the collect).
- **Determinism is engineered, not hoped for**: every sum runs in
  DECIMAL(30,15) (exact integer arithmetic, any summation order —
  the repo's money contract applied to gradients), and all remaining
  arithmetic is pointwise IEEE-754 (deterministic).  A double cast
  to DECIMAL(30,15) can never tie (dyadic rationals are never
  k·1e-15 + 5e-16), so rounding-mode differences are unobservable.
  Consequence: the full training TRAJECTORY is identical in Spark
  under any partitioning and in DuckDB — the registry oracle unrolls
  all iterations as CTEs (the k-means/BPE trajectory-oracle scheme)
  and value-hash-matches the final scores.
- **Squared loss, not logistic, on the certified path**: sigmoid
  needs exp(), whose libm/JVM implementations differ by 1 ulp and
  compound over iterations.  Squared-loss GD is rational arithmetic
  end-to-end.  Scores are a monotone quality ranking either way; a
  logistic link at READ time (outside training) is safe.

Reference: beyond-reference training-data op (quality-filter model
per CCNet, Wenzek et al. 2020 / fastText, Joulin et al. 2016).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "hashed_tf_features",
    "rule_labels",
    "linear_probe_train",
    "linear_probe_scores",
    "quality_score_expr",
    "quality_score_batch",
    "quality_score_expr_hof",
    "quality_probe_sql",
]

_DEC = "decimal(30,15)"
# rule-label thresholds (compared on the 6-decimal-rounded ratios the
# certified text_quality query emits, so the comparison is exact)
RULE_STOPWORD_MIN = 0.10
RULE_TOKENS_MIN = 40
PRECOND_EPS = 1e-6


def _sum_dec(col) -> F.Column:
    """Order-insensitive exact double sum: the money contract."""
    return F.sum(col.cast(_DEC)).cast("double")


def _docwise(feats: DataFrame, labels: DataFrame, checkpoint: bool = True) -> DataFrame:
    """(doc_id, fs: array<struct(bucket, v)>, y): one row per doc —
    the training loop's working set.  collect_list order is
    nondeterministic, which is FINE: every consumer sums in DECIMAL,
    and decimal sums are order-insensitive-exact.

    AQE coalesces this small shuffle to ONE partition, which would run
    every iteration's fold single-threaded — re-spread to the core
    count before checkpointing (at warehouse scale the shuffle
    provides the partitions and the repartition is the no-op branch).
    ``checkpoint=False`` for single-pass consumers (scoring)."""
    out = feats.groupBy("doc_id").agg(
        F.collect_list(F.struct("bucket", "v")).alias("fs")
    ).join(labels, "doc_id")
    target = feats.sparkSession.sparkContext.defaultParallelism
    if checkpoint:
        if out.rdd.getNumPartitions() < target:
            out = out.repartition(target, F.col("doc_id"))
        return out.localCheckpoint(eager=True)
    return out


def _wmap(w: list[float]) -> F.Column:
    """Weights as ONE array Literal node (indexed by bucket+1) — a
    create_map of 2·(dim+1) literal expressions costs seconds of
    whole-stage-codegen compilation PER ITERATION (measured: 29.6 s
    of a 121-query bench in 8 iterations at dim=256); a single
    ArrayType literal is O(1) plan nodes.  Beats a per-iteration
    broadcast join ~4x as well; at dim ≫ 1e5 flip to the
    broadcast-join form."""
    return F.lit([float(x) for x in w])


def _fold_pred(wmap: F.Column) -> F.Column:
    """pred = Σ v·w[bucket] folded in DECIMAL over the per-doc array
    (exact, order-insensitive — matches the SQL twin's grouped SUM)."""
    return F.aggregate(
        F.col("fs"),
        F.lit(0).cast(_DEC),
        lambda acc, f: (
            acc
            + (
                f["v"]
                * F.element_at(wmap, (f["bucket"] + 1).cast("int"))
            ).cast(_DEC)
        ).cast(_DEC),
    ).cast("double")


def hashed_tf_features(
    df: DataFrame,
    dim: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, bucket, v): hashed bag-of-words term frequencies plus
    a bias feature at bucket == dim (v = 1.0) for every doc.

    bucket = md5-prefix hash of the word mod dim — the repo's
    engine-portable fingerprint convention.  v = word count /
    doc token total (each a deterministic double division)."""
    from ..functions.text import words

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words(F.col(text_col))).alias("w"),
    ).select(
        "doc_id",
        (F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long") % dim).alias(
            "bucket"
        ),
    )
    counts = toks.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    totals = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("tot"))
    tf = counts.join(totals, "doc_id").select(
        "doc_id",
        "bucket",
        (F.col("cnt").cast("double") / F.col("tot").cast("double")).alias("v"),
    )
    bias = df.select(
        F.col(id_col).alias("doc_id"),
        F.lit(dim).cast("long").alias("bucket"),
        F.lit(1.0).alias("v"),
    )
    return tf.unionByName(bias)


def rule_labels(df: DataFrame) -> DataFrame:
    """(doc_id, y): bootstrap labels of ``text`` from the certified quality rules —
    y = 1 when the doc looks prose-like (stopword_ratio and token
    count above floor), the CCNet move of labeling by a reference
    heuristic and training a generalizing model."""
    from ..functions.text import quality_features

    q = quality_features(df)
    return q.select(
        "doc_id",
        F.when(
            (F.col("stopword_ratio") >= RULE_STOPWORD_MIN)
            & (F.col("n_tokens") >= RULE_TOKENS_MIN),
            F.lit(1.0),
        )
        .otherwise(F.lit(0.0))
        .alias("y"),
    )


def linear_probe_train(
    feats: DataFrame,
    labels: DataFrame,
    dim: int = 256,
    n_iters: int = 8,
    lr: float = 0.1,
    l2: float = 0.0,
) -> list[float]:
    """Full-batch squared-loss GD; returns weights[0..dim] (last =
    bias).  w starts at zero, so iteration 1's gradient is the
    (shifted) class-mean difference — every step is reproducible.

    Defaults are the measured stable point on the synthetic corpus:
    Jacobi steps overshoot on correlated buckets above lr~0.15
    (measured divergence at 0.2); AUC against the rule labels at
    sf0.01 plateaus by 6 iterations (0.923 @ 6, 0.925 @ 15), so the
    default stops at 8.

    Per iteration: the residual is a map stage over per-doc feature
    arrays (weights inlined as a literal map), and the gradient's
    explode+groupBy is the ONLY shuffle, followed by a (dim+1)-row
    collect.  The per-doc working set materializes once."""
    docfeat = _docwise(feats, labels)
    n = float(docfeat.count())
    # Jacobi preconditioner: h_b = mean squared feature value per
    # bucket (one decimal-exact pass) — plain GD on raw tf features is
    # hopelessly ill-conditioned (the all-ones bias column's curvature
    # dwarfs every rare word's), so steps are scaled per-coordinate by
    # 1/(h_b + eps).  Deterministic like every other sum here.
    h_rows = (
        feats.groupBy("bucket")
        .agg(_sum_dec(F.col("v") * F.col("v")).alias("h"))
        .collect()
    )
    h = {row["bucket"]: row["h"] / n for row in h_rows}
    w = [0.0] * (dim + 1)
    for _ in range(n_iters):
        # residual is a pure map stage over the per-doc arrays; the
        # gradient explode+groupBy is the iteration's ONLY shuffle
        r = (_fold_pred(_wmap(w)) - F.col("y")).alias("r")
        grad_rows = (
            docfeat.select(F.explode("fs").alias("f"), r)
            .groupBy(F.col("f.bucket").alias("bucket"))
            .agg(_sum_dec(F.col("f.v") * F.col("r")).alias("g"))
            .collect()
        )
        g = {row["bucket"]: row["g"] for row in grad_rows}
        w = [
            wv - lr * ((g.get(b, 0.0) / n) / (h.get(b, 0.0) + PRECOND_EPS) + l2 * wv)
            for b, wv in enumerate(w)
        ]
    return w


def linear_probe_scores(
    feats: DataFrame, labels: DataFrame, weights: list[float]
) -> DataFrame:
    """(doc_id, y, score): final-model scores, score rounded at 1e-6
    (the value is engine-exact; rounding is for the report grid)."""
    return _docwise(feats, labels, checkpoint=False).select(
        "doc_id", "y", F.round(_fold_pred(_wmap(weights)), 6).alias("score")
    )


def quality_probe_sql(
    dim: int = 256,
    n_iters: int = 8,
    lr: float = 0.1,
    l2: float = 0.0,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB twin: the ENTIRE training trajectory unrolled, one
    (margins, residuals, gradient, weights) CTE quadruple per
    iteration, MATERIALIZED against inlining blowup.  Bit-exact with
    the Spark path by the decimal-sum contract."""
    from ..functions.text import words_sql

    ws = words_sql(text_col)
    lr_r, l2_r = repr(lr), repr(l2)
    parts = [
        f"""toks AS MATERIALIZED (
  SELECT doc_id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % {dim} AS bucket
  FROM (SELECT doc_id, unnest({ws}) AS w FROM {table}))""",
        """counts AS (SELECT doc_id, bucket, COUNT(*)::BIGINT AS cnt
  FROM toks GROUP BY doc_id, bucket)""",
        "totals AS (SELECT doc_id, COUNT(*)::BIGINT AS tot FROM toks GROUP BY doc_id)",
        f"""feats AS MATERIALIZED (
  SELECT doc_id, bucket, CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS v
  FROM counts JOIN totals USING (doc_id)
  UNION ALL SELECT doc_id, {dim}::BIGINT AS bucket, 1.0::DOUBLE AS v FROM {table})""",
        f"""q AS (SELECT doc_id,
  CAST(len({ws}) AS INTEGER) AS n_tokens,
  ROUND(CAST(len(list_filter({ws}, w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w))) AS DOUBLE)
        / GREATEST(len({ws}), 1), 6) AS stopword_ratio
  FROM {table})""",
        f"""labels AS MATERIALIZED (
  SELECT doc_id, CASE WHEN stopword_ratio >= {RULE_STOPWORD_MIN} AND n_tokens >= {RULE_TOKENS_MIN}
                 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS y FROM q)""",
        "nn AS (SELECT COUNT(*)::DOUBLE AS n FROM labels)",
        """hd AS MATERIALIZED (
  SELECT bucket, CAST(SUM(CAST(v * v AS DECIMAL(30,15))) AS DOUBLE) / (SELECT n FROM nn) AS h
  FROM feats GROUP BY bucket)""",
        f"w0 AS (SELECT unnest(range(0, {dim + 1})) AS bucket, 0.0::DOUBLE AS w)",
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"""m{i} AS MATERIALIZED (
  SELECT f.doc_id, CAST(SUM(CAST(f.v * w.w AS DECIMAL(30,15))) AS DOUBLE) AS pred
  FROM feats f JOIN w{i - 1} w USING (bucket) GROUP BY f.doc_id)"""
        )
        parts.append(
            f"""r{i} AS (SELECT m.doc_id, m.pred - l.y AS r
  FROM m{i} m JOIN labels l USING (doc_id))"""
        )
        parts.append(
            f"""g{i} AS MATERIALIZED (
  SELECT f.bucket, CAST(SUM(CAST(f.v * r.r AS DECIMAL(30,15))) AS DOUBLE) AS g
  FROM feats f JOIN r{i} r USING (doc_id) GROUP BY f.bucket)"""
        )
        parts.append(
            f"""w{i} AS MATERIALIZED (
  SELECT w.bucket,
         w.w - {lr_r} * ((COALESCE(g.g, 0.0) / (SELECT n FROM nn))
                         / (COALESCE(hd.h, 0.0) + {PRECOND_EPS!r}) + {l2_r} * w.w) AS w
  FROM w{i - 1} w LEFT JOIN g{i} g USING (bucket) LEFT JOIN hd USING (bucket))"""
        )
    parts.append(
        f"""mf AS (
  SELECT f.doc_id, CAST(SUM(CAST(f.v * w.w AS DECIMAL(30,15))) AS DOUBLE) AS pred
  FROM feats f JOIN w{n_iters} w USING (bucket) GROUP BY f.doc_id)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT m.doc_id, l.y, ROUND(m.pred, 6) AS score
FROM mf m JOIN labels l USING (doc_id)
ORDER BY doc_id"""
    )


def quality_score_expr(weights: list[float], text_col: str = "text") -> F.Column:
    """The trained model as ONE stateless scoring column — score a row
    WITHOUT the feature relation.  Returns the Arrow-batched vectorized
    scorer (:func:`quality_score_batch`): the higher-order-function
    expression tree (:func:`quality_score_expr_hof`) is CodegenFallback
    in Spark — interpreted eval at ~ms/row, and silently serialized
    onto the scan's partition count — so every call site used to
    depend on remembering a repartition + localCheckpoint to amortize
    it (the round-8 bench's 4.6x cold-run spread).  The pandas UDF has
    no such trap; both paths are differential-tested bit-for-bit
    (tests/test_quality_model.py) and both match
    :func:`linear_probe_scores` and the DuckDB twin exactly."""
    return quality_score_batch(weights)(F.col(text_col))


def quality_score_batch(weights: list[float]):
    """Vectorized scorer factory: a scalar pandas UDF reproducing the
    engine's exact score — Java-regex ASCII tokenization, md5-prefix
    bucket, per-bucket (count/total)·w term quantized to DECIMAL(30,15)
    with HALF_UP (Python's shortest float repr matches Java's
    Double.toString digits, validated bit-for-bit over the corpus and
    adversarial edges), exact decimal sum + bias, then HALF_UP round
    to 6.  Stateless and Arrow-batched: the same column works in batch
    scans and Structured Streaming ingest."""
    import re as _re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.functions import pandas_udf

    w = [float(x) for x in weights]
    dim = len(w) - 1
    q15, q6 = Decimal("1e-15"), Decimal("1e-6")
    bias = Decimal(repr(1.0 * w[dim])).quantize(q15, ROUND_HALF_UP)

    @pandas_udf("double")
    def _score(texts: pd.Series) -> pd.Series:
        split = _re.compile(r"[^a-zA-Z0-9_]+").split
        memo: dict[str, int] = {}

        def bucket(t: str) -> int:
            b = memo.get(t)
            if b is None:
                b = memo[t] = (
                    int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % dim
                )
            return b

        def one(text) -> float | None:
            if text is None:
                return None
            toks = [t for t in split(text.lower()) if t]
            if not toks:
                return float(
                    Decimal(repr(float(bias))).quantize(q6, ROUND_HALF_UP)
                )
            tot = float(len(toks))
            acc = Decimal(0)
            for b, c in Counter(bucket(t) for t in toks).items():
                acc += Decimal(repr((c / tot) * w[b])).quantize(
                    q15, ROUND_HALF_UP
                )
            return float(
                Decimal(repr(float(acc + bias))).quantize(q6, ROUND_HALF_UP)
            )

        return texts.map(one)

    return _score


def quality_score_expr_hof(
    weights: list[float], text_col: str = "text"
) -> F.Column:
    """The scorer as a pure JVM column-expression tree (no Python
    workers): re-derive the hashed tf features inline (words -> md5
    bucket -> counts via sorted-run fold) and fold v·w in DECIMAL.
    Kept as the zero-Python variant and the differential oracle for
    :func:`quality_score_batch` — but note every higher-order function
    here is CodegenFallback (interpreted eval): on a hot path, spread
    the input partitions and materialize the scored frame once, or the
    first evaluation runs ms/row on the scan's partition count."""
    from ..functions.text import words

    dim = len(weights) - 1
    wmap = _wmap(weights)
    buckets = F.transform(
        words(F.col(text_col)),
        lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long") % dim,
    )
    srt = F.array_sort(buckets)
    tot = F.size(srt).cast("double")
    # fold adjacent runs of the sorted bucket array into (bucket, cnt)
    # pairs, then score each run as (cnt/tot)·w[bucket] in DECIMAL
    runs = F.aggregate(
        srt,
        F.expr("CAST(array() AS array<struct<b: bigint, c: bigint>>)"),
        lambda acc, b: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1)["b"] == b),
            F.concat(
                F.slice(acc, 1, (F.size(acc) - 1).cast("int")),
                F.array(
                    F.struct(
                        b.alias("b"),
                        (F.element_at(acc, -1)["c"] + 1).alias("c"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(acc, F.array(F.struct(b.alias("b"), F.lit(1).cast("bigint").alias("c"))))
        ),
    )
    tf_dec = F.aggregate(
        runs,
        F.lit(0).cast(_DEC),
        lambda acc, r: (
            acc
            + (
                (r["c"].cast("double") / tot)
                * F.element_at(wmap, (r["b"] + 1).cast("int"))
            ).cast(_DEC)
        ).cast(_DEC),
    )
    # the bias joins the DECIMAL sum BEFORE the double cast — exactly
    # where linear_probe_scores adds its bias-feature term, so the two
    # paths agree bit-for-bit (adding two doubles post-cast would not)
    bias_dec = (F.lit(1.0) * F.lit(weights[dim])).cast(_DEC)
    total = F.when(F.size(srt) == 0, bias_dec).otherwise(
        (tf_dec + bias_dec).cast(_DEC)
    )
    return F.round(total.cast("double"), 6)


LANG_CLASSES = ("de", "en", "es", "fr", "zh")  # the corpus's label set, sorted


def _fold_pred_class(wmaps: list) -> list:
    """One decimal fold per class over the shared per-doc array —
    classes are few (5), features are the big axis, so the per-class
    folds share one pass over the row."""
    return [_fold_pred(wm) for wm in wmaps]


def linear_probe_train_multi(
    feats: DataFrame,
    labels: DataFrame,
    classes: tuple[str, ...] = LANG_CLASSES,
    dim: int = 128,
    n_iters: int = 6,
    lr: float = 0.1,
) -> list[list[float]]:
    """One-vs-rest multiclass linear probe with SHARED shuffles: every
    iteration computes ALL classes' residuals in one map stage over
    the per-doc arrays and aggregates all gradients in ONE
    explode+groupBy (C extra agg columns, not C extra shuffles).
    Same decimal-sum bit-exactness as the binary trainer; the Jacobi
    preconditioner is label-independent and shared.

    ``labels``: (doc_id, y) with y = the class STRING.  Returns
    W[class][bucket], classes in the given order.

    Not a registry query: the synthetic corpus shares one vocabulary
    across lang labels (measured: the trained probe converges to the
    majority class, accuracy 0.436 == the 'en' prior), so a trained
    language-ID is certified here by pytest on a separable fixture
    (Spark == DuckDB twin == high accuracy) instead of a decorative
    driver row."""
    C = len(classes)
    docfeat = _docwise_multi(feats, labels)
    n = float(docfeat.count())
    h_rows = (
        feats.groupBy("bucket")
        .agg(_sum_dec(F.col("v") * F.col("v")).alias("h"))
        .collect()
    )
    h = {row["bucket"]: row["h"] / n for row in h_rows}
    W = [[0.0] * (dim + 1) for _ in range(C)]
    for _ in range(n_iters):
        preds = _fold_pred_class([_wmap(w) for w in W])
        resid_cols = [
            (preds[c] - (F.col("y") == classes[c]).cast("double")).alias(f"_r{c}")
            for c in range(C)
        ]
        aggs = [
            _sum_dec(F.col("f.v") * F.col(f"_r{c}")).alias(f"_g{c}") for c in range(C)
        ]
        grad_rows = (
            docfeat.select(F.explode("fs").alias("f"), *resid_cols)
            .groupBy(F.col("f.bucket").alias("bucket"))
            .agg(*aggs)
            .collect()
        )
        g = {row["bucket"]: row for row in grad_rows}
        for c in range(C):
            W[c] = [
                wv
                - lr
                * (
                    ((g[b][f"_g{c}"] if b in g else 0.0) / n)
                    / (h.get(b, 0.0) + PRECOND_EPS)
                )
                for b, wv in enumerate(W[c])
            ]
    return W


def _docwise_multi(feats: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-doc working set with a STRING class label."""
    out = (
        feats.groupBy("doc_id")
        .agg(F.collect_list(F.struct("bucket", "v")).alias("fs"))
        .join(labels, "doc_id")
    )
    target = feats.sparkSession.sparkContext.defaultParallelism
    if out.rdd.getNumPartitions() < target:
        out = out.repartition(target, F.col("doc_id"))
    return out.localCheckpoint(eager=True)


def langid_probe_predict(
    feats: DataFrame,
    labels: DataFrame,
    W: list[list[float]],
    classes: tuple[str, ...] = LANG_CLASSES,
) -> DataFrame:
    """(doc_id, y, pred): argmax-class prediction, ties to the
    earliest class in ``classes`` order (deterministic; the scores
    are bit-exact so the argmax reproduces in SQL)."""
    docfeat = _docwise_multi(feats, labels)
    preds = _fold_pred_class([_wmap(w) for w in W])
    pick = F.lit(classes[0])
    best = preds[0]
    for c in range(1, len(classes)):
        better = preds[c] > best
        pick = F.when(better, F.lit(classes[c])).otherwise(pick)
        best = F.when(better, preds[c]).otherwise(best)
    return docfeat.select("doc_id", "y", pick.alias("pred"))


def langid_probe_sql(
    classes: tuple[str, ...] = LANG_CLASSES,
    dim: int = 128,
    n_iters: int = 6,
    lr: float = 0.1,
    table: str = "documents",
    text_col: str = "text",
    label_col: str = "lang",
) -> str:
    """DuckDB twin of the multiclass trainer + argmax evaluation:
    the full one-vs-rest trajectory unrolled with one weight COLUMN
    per class (same decimal contract as the binary twin), finishing
    in the confusion matrix (lang, pred, n)."""
    from ..functions.text import words_sql

    ws = words_sql(text_col)
    C = len(classes)
    lr_r = repr(lr)
    cr = range(C)
    parts = [
        f"""toks AS MATERIALIZED (
  SELECT doc_id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % {dim} AS bucket
  FROM (SELECT doc_id, unnest({ws}) AS w FROM {table}))""",
        """counts AS (SELECT doc_id, bucket, COUNT(*)::BIGINT AS cnt
  FROM toks GROUP BY doc_id, bucket)""",
        "totals AS (SELECT doc_id, COUNT(*)::BIGINT AS tot FROM toks GROUP BY doc_id)",
        f"""feats AS MATERIALIZED (
  SELECT doc_id, bucket, CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS v
  FROM counts JOIN totals USING (doc_id)
  UNION ALL SELECT doc_id, {dim}::BIGINT AS bucket, 1.0::DOUBLE AS v FROM {table})""",
        f"labels AS MATERIALIZED (SELECT doc_id, {label_col} AS y FROM {table})",
        "nn AS (SELECT COUNT(*)::DOUBLE AS n FROM labels)",
        """hd AS MATERIALIZED (
  SELECT bucket, CAST(SUM(CAST(v * v AS DECIMAL(30,15))) AS DOUBLE) / (SELECT n FROM nn) AS h
  FROM feats GROUP BY bucket)""",
        "w0 AS (SELECT unnest(range(0, %d)) AS bucket, %s)"
        % (dim + 1, ", ".join(f"0.0::DOUBLE AS w{c}" for c in cr)),
    ]
    for i in range(1, n_iters + 1):
        psel = ", ".join(
            f"CAST(SUM(CAST(f.v * w.w{c} AS DECIMAL(30,15))) AS DOUBLE) AS p{c}"
            for c in cr
        )
        parts.append(
            f"""m{i} AS MATERIALIZED (
  SELECT f.doc_id, {psel}
  FROM feats f JOIN w{i - 1} w USING (bucket) GROUP BY f.doc_id)"""
        )
        rsel = ", ".join(
            f"m.p{c} - CASE WHEN l.y = '{classes[c]}' THEN 1.0 ELSE 0.0 END AS r{c}"
            for c in cr
        )
        parts.append(
            f"r{i} AS (SELECT m.doc_id, {rsel} FROM m{i} m JOIN labels l USING (doc_id))"
        )
        gsel = ", ".join(
            f"CAST(SUM(CAST(f.v * r.r{c} AS DECIMAL(30,15))) AS DOUBLE) AS g{c}"
            for c in cr
        )
        parts.append(
            f"""g{i} AS MATERIALIZED (
  SELECT f.bucket, {gsel}
  FROM feats f JOIN r{i} r USING (doc_id) GROUP BY f.bucket)"""
        )
        usel = ", ".join(
            f"w.w{c} - {lr_r} * ((COALESCE(g.g{c}, 0.0) / (SELECT n FROM nn))"
            f" / (COALESCE(hd.h, 0.0) + {PRECOND_EPS!r})) AS w{c}"
            for c in cr
        )
        parts.append(
            f"""w{i} AS MATERIALIZED (
  SELECT w.bucket, {usel}
  FROM w{i - 1} w LEFT JOIN g{i} g USING (bucket) LEFT JOIN hd USING (bucket))"""
        )
    psel = ", ".join(
        f"CAST(SUM(CAST(f.v * w.w{c} AS DECIMAL(30,15))) AS DOUBLE) AS p{c}" for c in cr
    )
    parts.append(
        f"""mf AS (
  SELECT f.doc_id, {psel}
  FROM feats f JOIN w{n_iters} w USING (bucket) GROUP BY f.doc_id)"""
    )
    best = "GREATEST(" + ", ".join(f"p{c}" for c in cr) + ")"
    pick = "CASE " + " ".join(
        f"WHEN p{c} = {best} THEN '{classes[c]}'" for c in cr
    ) + " END"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT l.y AS lang, {pick} AS pred, COUNT(*)::BIGINT AS n
FROM mf m JOIN labels l USING (doc_id)
GROUP BY 1, 2 ORDER BY lang, pred"""
    )
