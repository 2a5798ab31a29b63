"""Linear-probe quality classifier: layout-invariance (the decimal
determinism claim), numpy reference differential, DuckDB trajectory
twin on a tiny corpus, separation sanity, and plan pins.
"""

import hashlib

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from confidential_storm_spark.operators.quality_model import (
    PRECOND_EPS,
    hashed_tf_features,
    linear_probe_scores,
    linear_probe_train,
    quality_probe_sql,
    rule_labels,
)

# prose-like (stopword-heavy, long) vs junk-like docs
_PROSE = (
    "the cat is in the hat and the dog is of the house and it is a fine day "
    "to sit in the sun and read a book of tales and the wind is soft "
    "and the rain is far away and it is good to rest in the shade of a tree"
)
_JUNK = "zxqv kjhg wqpo 4829 @@@@ zzzz qqqq glorp blarg snix"
_CORPUS = [(i, _PROSE + f" extra{i}") for i in range(10)] + [
    (100 + i, _JUNK + f" junk{i}") for i in range(10)
]


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_training_is_partition_layout_invariant(spark):
    # the determinism claim: decimal sums make the trajectory EXACTLY
    # identical under any partitioning — not approximately
    docs = _mk(spark, _CORPUS)
    ws = []
    for nparts in (1, 7):
        d = docs.repartition(nparts)
        w = linear_probe_train(
            hashed_tf_features(d, dim=64), rule_labels(d), dim=64, n_iters=6
        )
        ws.append(w)
    assert ws[0] == ws[1]  # bit-identical, == on floats intended


def _ref_train_numpy(docs, dim, n_iters, lr):
    """Dense numpy replica of the preconditioned squared-loss GD."""
    from confidential_storm_spark.functions.text import STOPWORDS

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % dim

    import re

    X = np.zeros((len(docs), dim + 1))
    y = np.zeros(len(docs))
    for i, (_, text) in enumerate(docs):
        toks = [w for w in re.split(r"[^a-zA-Z0-9_]+", text.lower()) if w]
        for w in toks:
            X[i, bucket(w)] += 1.0 / len(toks)
        X[i, dim] = 1.0
        n_stop = sum(1 for w in toks if w in STOPWORDS)
        sw = round(n_stop / max(len(toks), 1), 6)
        y[i] = 1.0 if (sw >= 0.10 and len(toks) >= 40) else 0.0
    n = float(len(docs))
    h = (X * X).sum(axis=0) / n
    w = np.zeros(dim + 1)
    for _ in range(n_iters):
        r = X @ w - y
        g = X.T @ r / n
        w = w - lr * (g / (h + PRECOND_EPS))
    return w


def test_weights_match_numpy_reference(spark):
    docs = _mk(spark, _CORPUS)
    w = linear_probe_train(
        hashed_tf_features(docs, dim=64), rule_labels(docs), dim=64, n_iters=6
    )
    ref = _ref_train_numpy(_CORPUS, 64, 6, 0.1)
    # numpy sums in float order -> tolerance, not equality
    assert np.allclose(np.array(w), ref, rtol=1e-9, atol=1e-12)


def test_scores_match_duckdb_trajectory_twin(spark, tmp_path):
    docs = _mk(spark, _CORPUS)
    pq = str(tmp_path / "docs.parquet")
    docs.coalesce(1).write.parquet(pq)
    feats, labels = hashed_tf_features(docs, dim=64), rule_labels(docs)
    w = linear_probe_train(feats, labels, dim=64, n_iters=5)
    got = [
        (r.doc_id, r.y, r.score)
        for r in linear_probe_scores(feats, labels, w).orderBy("doc_id").collect()
    ]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'")
    oracle = [
        tuple(x) for x in con.sql(quality_probe_sql(dim=64, n_iters=5)).fetchall()
    ]
    assert got == oracle  # bit-exact incl. the 6-decimal report grid


def test_probe_separates_obvious_classes(spark):
    docs = _mk(spark, _CORPUS)
    feats, labels = hashed_tf_features(docs, dim=64), rule_labels(docs)
    # the rule itself must split the corpus as designed
    ys = {r.doc_id: r.y for r in labels.collect()}
    assert all(ys[i] == 1.0 for i, _ in _CORPUS[:10])
    assert all(ys[i] == 0.0 for i, _ in _CORPUS[10:])
    w = linear_probe_train(feats, labels, dim=64)
    scores = {
        r.doc_id: r.score for r in linear_probe_scores(feats, labels, w).collect()
    }
    worst_pos = min(scores[i] for i, _ in _CORPUS[:10])
    best_neg = max(scores[i] for i, _ in _CORPUS[10:])
    assert worst_pos > best_neg  # fully separable here


def test_training_plan_is_jvm_only(spark):
    docs = _mk(spark, _CORPUS)
    feats, labels = hashed_tf_features(docs, dim=32), rule_labels(docs)
    w = linear_probe_train(feats, labels, dim=32, n_iters=2)
    plan = (
        linear_probe_scores(feats, labels, w)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_score_expr_matches_feature_path_bit_for_bit(spark):
    docs = _mk(spark, _CORPUS)
    feats, labels = hashed_tf_features(docs, dim=64), rule_labels(docs)
    w = linear_probe_train(feats, labels, dim=64, n_iters=4)
    from confidential_storm_spark.operators.quality_model import quality_score_expr

    via_feats = {
        r.doc_id: r.score
        for r in linear_probe_scores(feats, labels, w).collect()
    }
    via_expr = {
        r.doc_id: r.s
        for r in docs.select("doc_id", quality_score_expr(w).alias("s")).collect()
    }
    assert via_feats == via_expr  # == on floats intended (bit-exact claim)


def test_score_batch_matches_hof_expr_bit_for_bit(spark):
    """The vectorized pandas-UDF scorer (the default path) and the
    pure-JVM HOF expression tree must agree exactly — including on
    null / empty / punctuation-only / unicode / long texts — since the
    UDF reproduces Spark's double->DECIMAL(30,15) HALF_UP cast via the
    shortest float repr."""
    from confidential_storm_spark.operators.quality_model import (
        quality_score_expr,
        quality_score_expr_hof,
    )

    docs = _mk(spark, _CORPUS)
    w = linear_probe_train(hashed_tf_features(docs, dim=64), rule_labels(docs), dim=64, n_iters=3)
    edge = spark.createDataFrame(
        [
            (101, None),
            (102, ""),
            (103, "!!! ??? ..."),
            (104, "Ünïcødé wörds ünïcødé"),
            (105, "a" * 5000),
            (106, "x y z " * 3000),
        ],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(edge)
    fast = {r.doc_id: r.s for r in both.select("doc_id", quality_score_expr(w).alias("s")).collect()}
    hof = {r.doc_id: r.s for r in both.select("doc_id", quality_score_expr_hof(w).alias("s")).collect()}
    assert fast == hof


def test_score_expr_streams_statelessly(spark, tmp_path):
    # train in batch, score a stream: the expression is a pure map,
    # so availableNow micro-batches reproduce the batch scores exactly
    from confidential_storm_spark.operators.quality_model import quality_score_expr
    from confidential_storm_spark.streaming._drain import run_available_now

    docs = _mk(spark, _CORPUS)
    w = linear_probe_train(hashed_tf_features(docs, dim=64), rule_labels(docs), dim=64, n_iters=3)
    src = str(tmp_path / "stream_src")
    docs.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("doc_id", quality_score_expr(w).alias("s"))
    )
    run_available_now(
        stream.writeStream.format("memory").queryName("qscores"),
        str(tmp_path / "ckpt"),
    )
    got = {r.doc_id: r.s for r in spark.sql("select * from qscores").collect()}
    batch = {
        r.doc_id: r.s
        for r in docs.select("doc_id", quality_score_expr(w).alias("s")).collect()
    }
    assert got == batch


def test_score_expr_handles_empty_and_null_text(spark):
    from confidential_storm_spark.operators.quality_model import quality_score_expr

    docs = _mk(spark, _CORPUS)
    w = linear_probe_train(hashed_tf_features(docs, dim=64), rule_labels(docs), dim=64, n_iters=2)
    edge = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r.s for r in edge.select("doc_id", quality_score_expr(w).alias("s")).collect()}
    bias = round(w[-1], 6)
    assert out[1] == bias and out[2] == bias
    # null text -> null words array -> score stays null (caller filters)
    assert out[3] is None or out[3] == bias


def test_quality_deciles_partition_and_order(spark, tmp_path):
    # build via the registry function against a tiny parquet corpus
    import confidential_storm_spark.plans.queries as Q

    docs = _mk(spark, _CORPUS + [(200 + i, f"filler words {i} alpha beta") for i in range(30)])
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    docs.write.parquet(f"{sf}/documents.parquet")
    out = Q.quality_deciles(spark, sf).collect()
    assert [r["decile"] for r in out] == sorted({r["decile"] for r in out})
    assert set(r["decile"] for r in out) <= set(range(10))
    assert sum(r["n_docs"] for r in out) == docs.count()
    # decile 0 holds the TOP scores: envelopes weakly decrease
    for a, b in zip(out, out[1:]):
        assert a["min_score"] >= b["max_score"]
    Q._QUALITY_MEMO.clear()


def test_multiclass_probe_on_separable_corpus(spark, tmp_path):
    """Trained multiclass language-ID on a corpus with real lexical
    signal: near-perfect accuracy AND bit-exact agreement with the
    unrolled 3-class DuckDB trajectory twin."""
    import duckdb

    from confidential_storm_spark.operators.quality_model import (
        hashed_tf_features,
        langid_probe_predict,
        langid_probe_sql,
        linear_probe_train_multi,
    )

    vocab = {
        "aa": "der hund läuft schnell durch den wald und über die wiese heute",
        "bb": "the dog runs quickly through the woods and over the meadow today",
        "cc": "le chien court vite dans les bois et sur la prairie aujourd'hui",
    }
    rows = [
        (i, vocab[cls] + f" x{i}", cls)
        for i, cls in enumerate(
            [c for c in ("aa", "bb", "cc") for _ in range(12)]
        )
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    classes = ("aa", "bb", "cc")
    feats = hashed_tf_features(docs, dim=64)
    labels = docs.select("doc_id", F.col("lang").alias("y"))
    W = linear_probe_train_multi(feats, labels, classes=classes, dim=64, n_iters=4)
    pred = langid_probe_predict(feats, labels, W, classes=classes)
    conf = {
        (r["lang"], r["pred"]): r["n"]
        for r in pred.groupBy(F.col("y").alias("lang"), "pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # fully separable vocab -> perfect diagonal
    assert conf == {(c, c): 12 for c in classes}

    pq = str(tmp_path / "docs.parquet")
    docs.coalesce(1).write.parquet(pq)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'")
    oracle = {
        (r[0], r[1]): r[2]
        for r in con.sql(
            langid_probe_sql(classes=classes, dim=64, n_iters=4)
        ).fetchall()
    }
    assert conf == oracle  # trajectory + argmax bit-exact cross-engine
