"""Spark-side operator integration tests (sf0.001 fixtures).

The DuckDB oracle comparison is tools/check_correctness.py (the
driver's gate); these tests cover the *relationships* between
operators that SQL oracles can't express: zero-noise DP == exact,
LSH recall vs brute force, noisy-path determinism, bounding
invariants.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from confidential_storm_spark.operators.bounding import bounded_clamped
from confidential_storm_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from confidential_storm_spark.operators.dp_batch import DPParams, dp_histogram_batch
from confidential_storm_spark.operators.histogram import histogram_release
from confidential_storm_spark.operators.similarity import brute_force_topk, lsh_ann_topk
from confidential_storm_spark.plans.queries import _query_vec
from confidential_storm_spark.sources.tables import contributions_view, load_table


@pytest.fixture(scope="module")
def contrib(spark, sf_dir):
    df = contributions_view(spark, sf_dir).cache()
    df.count()
    return df


def test_bounding_invariant(contrib):
    bounded = bounded_clamped(contrib, 5, 1.0)
    per_user = bounded.groupBy("user_id").count()
    assert per_user.agg(F.max("count")).head()[0] <= 5
    vals = bounded.agg(F.min("value"), F.max("value")).head()
    assert vals[0] >= -1.0 and vals[1] <= 1.0


def test_zero_noise_dp_equals_exact(contrib):
    """Keystone: sigma=0, mu=0 DP pipeline == exact bounded histogram."""
    bounded = bounded_clamped(contrib, 32, 1.0)
    exact = {r["key"]: r["count"] for r in histogram_release(bounded).collect()}
    dp = {
        r["key"]: r["count"]
        for r in dp_histogram_batch(bounded, DPParams.zero_noise(30, mu=0)).collect()
    }
    assert dp == exact


def test_zero_noise_mu_matches_core_mechanism(contrib):
    """mu>0 gating must match the pure-Python mechanism run on the
    same windowed inputs (differential test, single bucket)."""
    from confidential_storm_spark.dp.mechanism import StreamingDPMechanism

    bounded = bounded_clamped(contrib, 32, 1.0)
    windowed = (
        bounded.groupBy("key", "epoch")
        .agg(F.sum("value").alias("total"), F.collect_set("user_id").alias("users"))
        .collect()
    )
    mech = StreamingDPMechanism(0.0, 0.0, 4.2649, 30, 5, 32, seed=0)
    by_epoch: dict[int, list] = {}
    for r in windowed:
        by_epoch.setdefault(r["epoch"], []).append(r)
    expected = {}
    for epoch in range(30):
        for r in by_epoch.get(epoch, ()):
            mech.add_window(r["key"], r["total"], r["users"])
        expected = mech.snapshot()

    dp = {
        r["key"]: r["count"]
        for r in dp_histogram_batch(bounded, DPParams.zero_noise(30, mu=5)).collect()
    }
    assert dp == expected


def test_dp_hot_key_bounded_state(spark):
    """Skew guard: ONE key with 10^6 distinct users must run with
    bounded per-row state (the old collect_set(user_id) shipped a
    single million-element array row).  Zero-noise oracle: every user
    contributes value 1 once, so the released count == n_users, and
    with mu > 0 the key still releases (plenty of new users/epoch)."""
    n_users, t = 1_000_000, 5
    df = (
        spark.range(n_users)
        .select(
            F.lit("hot").alias("key"),
            F.col("id").alias("user_id"),
            F.lit(1.0).alias("value"),
            (F.col("id") % t).cast("int").alias("epoch"),
        )
    )
    out = dp_histogram_batch(df, DPParams.zero_noise(t, mu=1000), num_buckets=4).collect()
    assert len(out) == 1
    assert out[0]["key"] == "hot" and out[0]["count"] == n_users


def test_noisy_dp_unseeded_runs_differ(contrib):
    """seed=None (the production default) draws fresh OS entropy — two
    runs must not produce identical noise (predictable noise voids DP)."""
    bounded = bounded_clamped(contrib, 32, 1.0).cache()
    # moderate sigmas so keys actually release at sf0.001 (the paper
    # budget's tau is far above this tiny fixture's unique-user counts)
    params = DPParams(
        sigma_key=1.0, sigma_hist=5.0, threshold_quantile=2.0,
        max_time_steps=30, mu=0, max_contributions_per_user=32,
    )
    assert params.seed is None
    a = sorted(dp_histogram_batch(bounded, params, num_buckets=8).collect())
    b = sorted(dp_histogram_batch(bounded, params, num_buckets=8).collect())
    assert len(a) > 0
    assert a != b


def test_noisy_dp_unseeded_release_is_pinned(contrib):
    """seed=None pins one secret per release when the plan is built:
    collecting the release twice, and a second query over it whose own
    plan re-runs the DP stage, return identical rows, and the noise is
    real (some row is off its exact count)."""
    bounded = bounded_clamped(contrib, 32, 1.0).cache()
    params = DPParams(
        sigma_key=1.0, sigma_hist=5.0, threshold_quantile=2.0,
        max_time_steps=30, mu=0, max_contributions_per_user=32,
    )
    release = dp_histogram_batch(bounded, params, num_buckets=8)
    a = sorted(release.collect())
    assert len(a) > 0
    assert sorted(release.collect()) == a
    assert sorted(release.select("*").collect()) == a
    exact = {r["key"]: r["count"] for r in histogram_release(bounded).collect()}
    assert any(exact.get(r["key"]) != r["count"] for r in a)


def test_noisy_dp_deterministic_under_seed(contrib):
    bounded = bounded_clamped(contrib, 32, 1.0).cache()
    params = DPParams.from_budget(6.0, 1e-9, c=32, t=30, mu=0, seed=7)
    a = sorted(dp_histogram_batch(bounded, params, num_buckets=8).collect())
    b = sorted(dp_histogram_batch(bounded, params, num_buckets=8).collect())
    assert a == b
    # and the noise is actually there: differs from exact
    exact = sorted(
        (r["key"], r["count"]) for r in histogram_release(bounded).collect()
    )
    assert sorted((r["key"], r["count"]) for r in a) != exact


def test_minhash_recall_vs_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    # verification step makes LSH precise; recall on high-sim pairs
    assert lsh.issubset(exact)
    if exact:
        assert len(lsh) / len(exact) >= 0.8


def test_lsh_ann_subset_of_bruteforce_bucket(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    bf = brute_force_topk(emb, q, k=50).collect()
    ann = lsh_ann_topk(emb, q, k=10, num_planes=4).collect()
    assert len(ann) > 0
    # every ANN hit's cosine must appear in the global ranking
    bf_scores = {r["vec_id"]: r["cosine"] for r in bf}
    # the query vector itself (vec_id 0) is in its own bucket -> rank 1
    assert ann[0]["vec_id"] == 0 and ann[0]["cosine"] == pytest.approx(1.0)


def test_histogram_release_clamps_negatives(spark):
    df = spark.createDataFrame(
        [("a", -5.0), ("a", 2.0), ("b", 3.6)], "key string, value double"
    )
    out = {r["key"]: r["count"] for r in histogram_release(df).collect()}
    assert out == {"a": 0, "b": 4}  # -3 clamps to 0; 3.6 rounds half-up to 4


def test_embedding_neardup_blocked_equals_broadcast(spark, sf_dir):
    """The blocked cogroup scale path (broadcast_limit=0) must produce
    EXACTLY the broadcast fast path's pairs, across a multi-cell grid."""
    from confidential_storm_spark.operators.dedup import embedding_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    fast = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(emb, threshold=0.4).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(
            emb, threshold=0.4, broadcast_limit=0, block_rows=120
        ).collect()
    }
    assert blocked == fast and len(fast) > 0


def test_embedding_lsh_pairs_subset_of_exact(spark, sf_dir):
    """The subquadratic LSH-bucketed variant returns a SUBSET of the
    exact pairs (same-bucket only), with identical cosines on hits."""
    from confidential_storm_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(emb, threshold=0.4).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs_lsh(emb, threshold=0.4).collect()
    }
    assert set(approx) <= set(exact) and len(approx) > 0
    for k, v in approx.items():
        assert v == exact[k]


def test_winnow_udf_equals_expression_form(spark):
    """The Arrow-batched winnowing twin must produce IDENTICAL
    fingerprints to the declarative expression form (the SQL oracle's
    mirror), including short-doc and empty edge cases."""
    from confidential_storm_spark.functions.text import (
        winnow_from_grams,
        winnow_grams,
        winnow_udf,
    )

    docs = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog repeatedly!"),
            (2, "The quick brown fox jumps over the lazy cat repeatedly!"),
            (3, "tiny"),       # < k chars after normalization
            (4, ""),           # empty
            (5, "abcdef"),     # fewer grams than the window
            (6, "aaaaaaaaaaaaaaaaaaaa"),  # degenerate repeats
        ],
        "doc_id long, text string",
    )
    expr = {
        r["doc_id"]: list(r["fp"])
        for r in docs.withColumn("_g", winnow_grams(F.col("text")))
        .select("doc_id", winnow_from_grams(F.col("_g")).alias("fp"))
        .collect()
    }
    udf = {
        r["doc_id"]: list(r["fp"])
        for r in docs.select("doc_id", winnow_udf(F.col("text")).alias("fp")).collect()
    }
    assert udf == expr
    assert udf[4] == [] and len(udf[3]) == 0  # both under k chars
    assert len(udf[6]) == 1  # one distinct gram -> one fingerprint
    # near-dup docs share most fingerprints
    shared = set(udf[1]) & set(udf[2])
    assert len(shared) / len(set(udf[1])) > 0.5


def test_bpe_pattern_explicit_ascii_whitespace(spark):
    """ADVICE: \\s diverges across Java/RE2/Python ([\\x0B], Unicode);
    the explicit ASCII class must tokenize identically in all three
    engines even on vertical-tab / Unicode-whitespace input."""
    import re

    import duckdb

    from confidential_storm_spark.functions.text import (
        BPE_PATTERN,
        bpe_tokens,
        bpe_tokens_sql,
    )

    texts = [
        "hello\x0bworld",            # vertical tab: Java \s yes, RE2 \s no
        "non breaking space",   # U+00A0: Python \s yes, ASCII class no
        "tabs\tand\nnewlines\r\fok",
        "it's 42 degrees... right?",
        " em-space run",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    spark_toks = [
        list(r["t"]) for r in df.select(bpe_tokens(F.col("text")).alias("t")).collect()
    ]
    con = duckdb.connect()
    duck_toks = [
        con.execute(f"SELECT {bpe_tokens_sql('?::VARCHAR')}").fetchone()[0]
        if False else con.execute(
            f"SELECT {bpe_tokens_sql('t')} FROM (SELECT ?::VARCHAR AS t)", [t]
        ).fetchone()[0]
        for t in texts
    ]
    # explicit ws-run drop, mirroring the engine-side regex filter
    py_toks = [
        [m for m in re.findall(BPE_PATTERN, t) if not re.fullmatch("[ \t\n\r\f]+", m)]
        for t in texts
    ]
    for t, s_t, d_t, p_t in zip(texts, spark_toks, duck_toks, py_toks):
        assert s_t == d_t == p_t, (t, s_t, d_t, p_t)


def test_mixture_sample_monotone_and_deterministic(spark, sf_dir):
    """hash-threshold sampling: accepted sets are MONOTONE in the rate
    (raising a weight only adds docs) and deterministic across calls."""
    from confidential_storm_spark.operators.sampling import mixture_sample
    from confidential_storm_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    def ids(rate):
        return {
            r["doc_id"]
            for r in mixture_sample(docs, {"en": rate}, default_rate=0.0).select(
                "doc_id"
            ).collect()
        }

    s25, s50, s100 = ids(0.25), ids(0.5), ids(1.0)
    assert s25 <= s50 <= s100
    n_en = docs.filter("lang = 'en'").count()
    assert len(s100) == n_en  # rate 1.0 keeps everything in-stratum
    # roughly proportional (hash uniformity; wide tolerance at n~200)
    assert 0.3 * n_en <= len(s50) <= 0.7 * n_en
    assert ids(0.5) == s50  # deterministic re-run


def test_repetition_signals_random_differential(spark):
    """Randomized differential test: repetition_signals vs a direct
    pure-Python computation over 40 random word-soup docs (including
    empty, single-word and all-same-word edge cases)."""
    import collections
    import re

    from confidential_storm_spark.functions.text import repetition_signals

    rng = np.random.default_rng(7)
    vocab = ["alpha", "beta", "Gamma", "delta-x", "e9", "the"]
    docs = [(0, ""), (1, "solo"), (2, "same same same same")]
    for i in range(3, 40):
        n = int(rng.integers(1, 30))
        docs.append((i, " ".join(rng.choice(vocab, n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["dup_word_frac"], r["top_word_frac"], r["top_bigram_frac"])
        for r in repetition_signals(df).collect()
    }
    for doc_id, text in docs:
        ws = [w for w in re.split(r"\W+", text.lower()) if w]
        if not ws:
            want = (0.0, 0.0, 0.0)
        else:
            c = collections.Counter(ws)
            bgs = collections.Counter(
                f"{a} {b}" for a, b in zip(ws, ws[1:])
            )
            want = (
                round(1 - len(c) / len(ws), 6),
                round(max(c.values()) / len(ws), 6),
                round(max(bgs.values()) / sum(bgs.values()), 6) if bgs else 0.0,
            )
        assert got[doc_id] == pytest.approx(want), (doc_id, text)


def test_redact_pii_synthetic(spark):
    """The redaction chain actually scrubs emails, IPv4s and phone-ish
    digit runs (and leaves clean text alone)."""
    from confidential_storm_spark.functions.text import pii_counts, redact_pii

    rows = [
        (1, "mail bob.smith+x@corp.example.org now"),
        (2, "server at 192.168.0.1 down"),
        (3, "call +41 79 555-12-34 today"),
        (4, "clean text with numbers 42 and 7"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    c = pii_counts(F.col("text"))
    got = {
        r["id"]: (r["red"], r["ne"], r["ni"], r["np"])
        for r in df.select(
            "id",
            redact_pii(F.col("text")).alias("red"),
            c["email"].alias("ne"),
            c["ipv4"].alias("ni"),
            c["phone"].alias("np"),
        ).collect()
    }
    assert got[1] == ("mail <EMAIL> now", 1, 0, 0)
    assert got[2] == ("server at <IPV4> down", 0, 1, 0)
    assert got[3] == ("call <PHONE> today", 0, 0, 1)
    assert got[4][0] == "clean text with numbers 42 and 7"


def test_incremental_minhash_matches_self_join_cross_pairs(spark, sf_dir, tmp_path):
    """The standing-index probe must find EXACTLY the batch x corpus
    pairs the full self-join finds (cap off on both sides so the
    bucket populations are comparable), and the index's persisted
    dials must reject a mismatched probe."""
    from confidential_storm_spark.operators.dedup import (
        incremental_minhash_against_index,
        minhash_lsh_pairs,
    )
    from confidential_storm_spark.sources.writers import write_minhash_band_index

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter("doc_id % 10 = 0")
    corpus = docs.filter("doc_id % 10 <> 0")
    idx = str(tmp_path / "mhband")
    write_minhash_band_index(corpus, idx, max_bucket_size=None)

    inc = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in incremental_minhash_against_index(
            spark, batch, idx, corpus, jaccard_threshold=0.2
        ).collect()
    }
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    full = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            docs, jaccard_threshold=0.2, max_bucket_size=None
        ).collect()
    }
    cross = {
        (a, b, j) if a in batch_ids else (b, a, j)
        for (a, b, j) in full
        if (a in batch_ids) != (b in batch_ids)
    }
    assert inc == cross

    with pytest.raises(ValueError, match="was built with"):
        incremental_minhash_against_index(
            spark, batch, idx, corpus, num_hashes=8, bands=4
        ).collect()
