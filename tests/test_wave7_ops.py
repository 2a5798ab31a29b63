"""Round-9 wave 7 operators: char entropy, inverted index, canonical
dedup selection, split-leakage audit, SQ8 quantized ANN, centroid
outliers."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_char_entropy_known_values(spark):
    from confidential_storm_spark.functions.text import char_entropy

    df = spark.createDataFrame(
        [(0, "aaaa"), (1, "ab" * 8), (2, ""), (3, "aab b")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["e"]
        for r in df.select("doc_id", F.round(char_entropy(F.col("text")), 6).alias("e")).collect()
    }
    assert got[0] == 0.0  # single symbol (and not -0.0)
    assert got[1] == 1.0  # two equiprobable symbols
    assert got[2] == 0.0  # empty text
    expected = -(0.4 * math.log2(0.4) * 2 + 0.2 * math.log2(0.2))
    assert got[3] == pytest.approx(expected, abs=1e-6)
    assert str(got[0]) == "0.0"  # -0.0 would break the value hash


def test_char_entropy_matches_duckdb_expression(spark):
    import duckdb

    from confidential_storm_spark.functions.text import char_entropy, char_entropy_sql

    rows = [(i, t) for i, t in enumerate(["hello world", "zzzzz", "the quick brown fox", "a"])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["e"]
        for r in df.select("doc_id", F.round(char_entropy(F.col("text")), 6).alias("e")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(
        con.sql(f"SELECT doc_id, ROUND({char_entropy_sql()}, 6) FROM t").fetchall()
    )
    assert got == want


def test_inverted_index_prunes_and_sorts(spark):
    from confidential_storm_spark.operators.ranking import inverted_index

    # 10 docs: "common" in all 10 (pruned by max_df_ratio=0.5),
    # "mid" in docs 0,2,4 (kept with min_df=2), "rare" once (pruned)
    rows = [
        (i, "common " + ("mid " if i % 2 == 0 and i < 5 else "") + ("rare" if i == 7 else ""))
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = inverted_index(df, min_df=2, max_df_ratio=0.5).collect()
    assert [r["word"] for r in out] == ["mid"]
    assert out[0]["df"] == 3
    assert out[0]["postings"] == "0,2,4"


def test_canonical_query_keeps_longest(spark):
    # certified end-to-end at sf0.01 by the registry gate; here: the
    # canonical choice is the longest member, ties to lowest doc_id
    from confidential_storm_spark.operators.dedup import neardup_clusters

    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (9, 50)],
        "doc_id long, n_chars long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    from pyspark.sql import Window

    cl = neardup_clusters(docs.withColumn("text", F.lit("x")), pairs).select(
        "doc_id", "cluster_id"
    )
    joined = cl.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    got = {
        r["doc_id"]: r["canon"]
        for r in joined.withColumn("canon", F.first("doc_id").over(w)).collect()
    }
    assert got[1] == 2 and got[2] == 2 and got[3] == 2  # longest wins, tie -> doc 2
    assert got[9] == 9  # singleton is its own canonical


def test_sq8_reconstruction_error_bounded(spark):
    from confidential_storm_spark.operators.similarity import _sq8_recon, sq8_minmax

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    los, his = sq8_minmax(df)
    # _sq8_recon returns a SQL expression string (built once, not per
    # Column op) — evaluate it with F.expr
    out = df.select(
        "vec_id", F.expr(_sq8_recon("embedding", los, his)).alias("rv")
    ).collect()
    step = (np.array(his) - np.array(los)) / 255.0
    for r in out:
        err = np.abs(np.array(r["rv"]) - vecs[r["vec_id"]].astype(np.float64))
        assert (err <= step / 2 + 1e-12).all()


def test_sq8_topk_close_to_exact(spark, sf_dir):
    from confidential_storm_spark.operators.similarity import brute_force_topk, sq8_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in sq8_topk(emb, q, k=10).collect()]
    # 8-bit quantization on 64 dims: recall@10 should be near-perfect
    assert len(set(exact) & set(approx)) >= 8
    assert approx[0] == 0  # the query vector itself still ranks first


def test_centroid_outliers_flags_planted_point(spark):
    from confidential_storm_spark.operators.clustering import centroid_outliers

    rng = np.random.default_rng(11)
    base = rng.normal(size=(60, 4)) * 0.05
    base[:30] += np.array([1.0, 0, 0, 0])
    base[30:] += np.array([-1.0, 0, 0, 0])
    base[59] = [-1.0, 3.0, 0, 0]  # planted far point in cluster 2's half
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    out = centroid_outliers(df, k=2, iters=4, z_threshold=2.0).collect()
    flagged = {r["vec_id"] for r in out if r["is_outlier"]}
    assert 59 in flagged
    assert len(flagged) <= 5
    zs = {r["vec_id"]: r["z_score"] for r in out}
    assert zs[59] > 2.0


def test_split_leakage_tags_are_consistent(spark, sf_dir):
    from confidential_storm_spark.operators.sampling import split_assign
    from confidential_storm_spark.plans.queries import SPLIT_WEIGHTS, split_leakage

    out = split_leakage(spark, sf_dir).collect()
    assert len(out) > 0
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tags = {
        r["doc_id"]: r["split"]
        for r in split_assign(docs, SPLIT_WEIGHTS).select("doc_id", "split").collect()
    }
    for r in out:
        assert r["split_a"] == tags[r["id_a"]]
        assert r["split_b"] == tags[r["id_b"]]
        assert r["split_a"] != r["split_b"]


def test_recall_eval_sq8_dominates_sq4(spark, sf_dir):
    from confidential_storm_spark.operators.similarity import sq8_recall_eval

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = sq8_recall_eval(emb, n_queries=4, k=10).collect()
    assert len(out) == 8  # 2 methods x 4 queries
    r = {(row["method"], row["query_id"]): row["recall_at_k"] for row in out}
    for qid in range(4):
        assert r[("sq8", qid)] >= r[("sq4", qid)]
        assert r[("sq8", qid)] >= 0.8


def test_grouped_topk_uses_window_group_limit(spark, sf_dir):
    from confidential_storm_spark.operators.similarity import _fold_cosine, grouped_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    scored = emb.join(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.expr(f"round({_fold_cosine('embedding', '_qv')}, 6)").alias("cosine"),
    )
    plan = grouped_topk(scored, "query_id", "cosine", "vec_id", 5)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan  # partial top-k before the shuffle


def test_vocab_coverage_monotone_ends_at_one(spark, sf_dir):
    from confidential_storm_spark.plans.queries import text_vocab_coverage

    out = text_vocab_coverage(spark, sf_dir).collect()
    shares = [r["cum_share"] for r in out]
    assert shares == sorted(shares)
    assert shares[-1] == 1.0
    assert out[0]["rank"] == 1 and out[0]["n"] >= out[-1]["n"]


def test_dataset_card_shares_sum_to_one(spark, sf_dir):
    from confidential_storm_spark.plans.queries import docs_dataset_card

    out = docs_dataset_card(spark, sf_dir).collect()
    assert abs(sum(r["token_share"] for r in out) - 1.0) < 1e-3
    for r in out:
        assert 0.0 <= r["dup_rate"] <= 1.0
        assert r["n_dupes"] <= r["n_docs"]


def test_anomaly_days_gating(spark, sf_dir):
    from confidential_storm_spark.plans.queries import events_anomaly_days

    out = events_anomaly_days(spark, sf_dir).collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r["event_type"], []).append(r)
    for rows in by_type.values():
        rows.sort(key=lambda r: r["day"])
        # first 7 days can never have a full prior week -> z gated to 0
        for r in rows[:7]:
            assert r["z_score"] == 0.0 and not r["is_anomaly"]
        for r in rows:
            if r["is_anomaly"]:
                assert abs(r["z_score"]) > 2.5


def test_novelty_first_doc_is_fully_novel(spark):
    from pyspark.sql import functions as F

    from confidential_storm_spark.plans.queries import SHINGLE_N  # noqa: F401
    from confidential_storm_spark.operators.dedup import shingles_udf

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"), (2, "unrelated words entirely here")],
        "doc_id long, text string",
    )
    dg = docs.select("doc_id", F.explode(shingles_udf(F.col("text"), 3)).alias("g"))
    first = dg.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per = (
        dg.join(first, "g")
        .groupBy("doc_id")
        .agg(F.sum((F.col("doc_id") == F.col("first_doc")).cast("long")).alias("novel"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = {r["doc_id"]: r["novel"] / r["n"] for r in per}
    assert got[0] == 1.0  # first occurrence of everything
    assert got[1] == 0.0  # exact repeat contributes nothing
    assert got[2] == 1.0  # disjoint text fully novel


def test_stream_novelty_totals_match_batch_universe(spark, sf_dir):
    from pyspark.sql import functions as F

    from confidential_storm_spark.operators.dedup import shingles_udf
    from confidential_storm_spark.plans.queries import SHINGLE_N, stream_novelty_replay

    out = stream_novelty_replay(spark, sf_dir).collect()
    assert [r["epoch"] for r in out] == sorted(r["epoch"] for r in out)
    cum = 0
    for r in out:
        cum += r["n_new_grams"]
        assert r["distinct_grams_cum"] == cum
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    universe = (
        docs.select(F.explode(shingles_udf(F.col("text"), SHINGLE_N)).alias("g"))
        .agg(F.countDistinct("g"))
        .head()[0]
    )
    assert cum == universe  # every distinct gram attributed exactly once


def test_emb_dim_stats_shape_and_dead_flag(spark, sf_dir):
    from confidential_storm_spark.plans.queries import emb_dim_stats

    out = emb_dim_stats(spark, sf_dir).collect()
    assert len(out) == 64
    for r in out:
        assert r["min_v"] <= r["mean"] <= r["max_v"]
        assert r["std"] >= 0
        assert r["is_dead"] == (r["min_v"] == r["max_v"])


def test_method_overlap_matrix_is_symmetric(spark, sf_dir):
    from confidential_storm_spark.plans.queries import dedup_method_overlap

    out = dedup_method_overlap(spark, sf_dir).collect()
    m = {(r["method_a"], r["method_b"]): r["n_common"] for r in out}
    for (a, b), n in m.items():
        assert m[(b, a)] == n  # intersection is symmetric
        assert n <= m[(a, a)] and n <= m[(b, b)]  # bounded by diagonals


def test_scd2_invariants(spark, sf_dir):
    from confidential_storm_spark.plans.queries import q_scd2_history

    rows = q_scd2_history(spark, sf_dir).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["custkey"], []).append(r)
    for key, hist in by_key.items():
        hist.sort(key=lambda r: r["valid_from"])
        for a, b in zip(hist, hist[1:]):
            assert a["valid_to"] < b["valid_from"]  # no overlap
            assert a["n_orders"] != b["n_orders"]  # runs collapsed
            assert not a["is_current"]
        last = hist[-1]
        assert last["is_current"] == (last["valid_to"] == 3)
        # cumulative as-of counts never decrease
        vals = [r["n_orders"] for r in hist]
        assert vals == sorted(vals)


def test_markov_rows_normalize(spark, sf_dir):
    from confidential_storm_spark.plans.queries import events_markov_transitions

    out = events_markov_transitions(spark, sf_dir).collect()
    rows = {}
    for r in out:
        rows.setdefault(r["prev_type"], []).append(r["p"])
        assert r["n"] >= 1 and 0 < r["p"] <= 1
    for ps in rows.values():
        assert abs(sum(ps) - 1.0) < 1e-4


def test_interarrival_gaps_positive(spark, sf_dir):
    from confidential_storm_spark.plans.queries import q_orders_interarrival

    out = q_orders_interarrival(spark, sf_dir).collect()
    assert len(out) >= 1
    for r in out:
        assert r["n_gaps"] > 0
        assert 0 <= r["p50_gap"] <= r["p90_gap"]
        assert r["mean_gap"] >= 0


def test_skew_profile_coherence(spark, sf_dir):
    from confidential_storm_spark.plans.queries import q_skew_profile

    out = {r["key_col"]: r for r in q_skew_profile(spark, sf_dir).collect()}
    assert set(out) == {"lineitem.l_orderkey", "events.user_id"}
    for r in out.values():
        assert r["n_keys"] <= r["n_rows"]
        assert r["p50_freq"] <= r["p99_freq"] <= r["max_freq"]
        assert abs(r["top1_share"] - r["max_freq"] / r["n_rows"]) < 1e-6
