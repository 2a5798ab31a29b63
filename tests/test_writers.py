"""Write-path operators: partitioned layout (pruning + dynamic
overwrite), bucketed co-located joins (no-shuffle plan), standing
digest index."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_write_partitioned_prunes_and_dynamic_overwrites(spark, tmp_path):
    from confidential_storm_spark.sources.writers import write_partitioned

    path = str(tmp_path / "bylang")
    docs = spark.createDataFrame(
        [(1, "hello", "en"), (2, "hola", "es"), (3, "world", "en")],
        "doc_id long, text string, lang string",
    )
    write_partitioned(docs, path, ("lang",))
    assert os.path.isdir(f"{path}/lang=en") and os.path.isdir(f"{path}/lang=es")

    # partition pruning: the es filter reads only the es directory
    rd = spark.read.parquet(path).filter(F.col("lang") == "es")
    plan = rd._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan
    assert rd.count() == 1

    # dynamic overwrite: rewriting ONE partition leaves the other intact
    only_es = spark.createDataFrame(
        [(9, "nueva", "es")], "doc_id long, text string, lang string"
    )
    write_partitioned(only_es, path, ("lang",))
    left = {
        (r["doc_id"], r["lang"]) for r in spark.read.parquet(path).collect()
    }
    assert left == {(1, "en"), (3, "en"), (9, "es")}


def test_write_bucketed_join_has_no_exchange(spark, tmp_path):
    from confidential_storm_spark.sources.writers import write_bucketed

    spark.sql(
        f"CREATE SCHEMA IF NOT EXISTS bktest LOCATION '{tmp_path}/bktest'"
    )
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("text")
    )
    scores = spark.range(2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("score")
    )
    write_bucketed(docs, "bktest.docs_b", "doc_id", num_buckets=4, sort_col="doc_id")
    write_bucketed(scores, "bktest.scores_b", "doc_id", num_buckets=4, sort_col="doc_id")
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bktest.docs_b").join(
                spark.table("bktest.scores_b"), "doc_id"
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            # co-located: matching bucket layouts satisfy the join's
            # distribution requirement on BOTH sides — no shuffle
            assert "Exchange" not in plan, plan
            assert joined.count() == 2000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS bktest.docs_b")
        spark.sql("DROP TABLE IF EXISTS bktest.scores_b")
        spark.sql("DROP SCHEMA IF EXISTS bktest")


def test_digest_index_incremental_runs(spark, tmp_path):
    from confidential_storm_spark.sources.writers import (
        incremental_dedup_against_index,
        write_digest_index,
    )

    path = str(tmp_path / "digests")
    day0 = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], "doc_id long, text string"
    )
    write_digest_index(day0, path)

    day1 = spark.createDataFrame(
        [(10, "seen before"), (11, "brand new"), (12, "brand new")],
        "doc_id long, text string",
    )
    out = {
        r["survivor_id"]: r["n_copies"]
        for r in incremental_dedup_against_index(spark, day1, path).collect()
    }
    assert out == {11: 2}

    # append day1's kept digests; day2 sees them
    write_digest_index(day1.filter(F.col("doc_id") == 11), path, mode="append")
    day2 = spark.createDataFrame(
        [(20, "brand new"), (21, "newer still")], "doc_id long, text string"
    )
    out2 = {
        r["survivor_id"]: r["n_copies"]
        for r in incremental_dedup_against_index(spark, day2, path).collect()
    }
    assert out2 == {21: 1}


def test_zorder_value_interleaves_bits(spark):
    from pyspark.sql import functions as F

    from confidential_storm_spark.sources.writers import zorder_value

    df = spark.createDataFrame([(3, 5), (0, 0), (-7, 99)], "x long, y long")
    got = [r.z for r in df.select(zorder_value(["x", "y"], bits=4).alias("z")).collect()]
    # x=3 (0011), y=5 (0101) -> x at even bits, y at odd: 0b100111 = 39
    # negatives clamp to 0; y=99 clamps to 15 (0b1111 at odd bits = 42+...)
    assert got[0] == 39 and got[1] == 0
    assert got[2] == 0b10101010  # y=15 interleaved at odd positions


def test_write_zordered_files_are_boxes_in_every_dimension(spark, tmp_path):
    """The pruning claim, measured from the parquet footers: after
    z-ordering on (a, b), a selective range predicate on EITHER column
    overlaps only a few files' min/max stats, where the same data
    sorted by a alone prunes only a-predicates."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from confidential_storm_spark.sources.writers import write_zordered

    n, files = 40_000, 16
    # independent dimensions (a full 200x200 grid) — a modular
    # multiple of `a` would put every row on a 1-D curve and no
    # 2-D layout could box it
    df = spark.range(n).select(
        (F.col("id") % 200).alias("a"),
        ((F.col("id") / 200).cast("long") % 200).alias("b"),
    )
    zpath = str(tmp_path / "zordered")
    spath = str(tmp_path / "a_sorted")
    write_zordered(df, zpath, ["a", "b"], n_files=files)
    df.repartitionByRange(files, "a").sortWithinPartitions("a").write.parquet(spath)

    def overlap_counts(path, lo, hi):
        """files whose [min,max] box overlaps the range, per column"""
        import glob

        out = {"a": 0, "b": 0, "n": 0}
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            out["n"] += 1
            stats = {}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in ("a", "b"):
                        mn, mx = col.statistics.min, col.statistics.max
                        pmn, pmx = stats.get(name, (mn, mx))
                        stats[name] = (min(pmn, mn), max(pmx, mx))
            for name, (mn, mx) in stats.items():
                if not (mx < lo or mn > hi):
                    out[name] += 1
        return out

    z = overlap_counts(zpath, 0, 24)   # 12.5% range in each dimension
    s = overlap_counts(spath, 0, 24)
    assert z["n"] == files and s["n"] == files
    # z-order: BOTH dimensions prune to a minority of files
    assert z["a"] <= files // 2 and z["b"] <= files // 2
    # single-column sort: a prunes hard, b cannot prune at all
    assert s["a"] <= 3 and s["b"] == files


def test_merge_upsert_semantics(spark):
    from confidential_storm_spark.sources.writers import merge_upsert

    target = spark.createDataFrame(
        [(1, "old-1"), (2, "old-2"), (3, "old-3")], "doc_id long, text string"
    )
    updates = spark.createDataFrame(
        [(2, "new-2"), (9, "new-9")], "doc_id long, text string"
    )
    got = sorted(tuple(r) for r in merge_upsert(target, updates).collect())
    assert got == [(1, "old-1"), (2, "new-2"), (3, "old-3"), (9, "new-9")]
    with pytest.raises(ValueError):
        merge_upsert(target, updates.select("text", "doc_id"))


def test_compact_parquet_collapses_small_files(spark, tmp_path):
    """The streaming-sink maintenance job: many per-batch files in,
    few balanced files out, identical data."""
    import glob

    from pyspark.sql import functions as F

    from confidential_storm_spark.sources.writers import compact_parquet

    src, dst = str(tmp_path / "many"), str(tmp_path / "few")
    for i in range(12):  # 12 appends, like 12 micro-batches
        spark.range(i * 100, (i + 1) * 100).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
    assert len(glob.glob(f"{src}/*.parquet")) == 12
    n_in = compact_parquet(spark, src, dst, target_files=3)
    assert n_in == 12
    assert len(glob.glob(f"{dst}/*.parquet")) == 3
    a = spark.read.parquet(src).agg(F.sum("id"), F.count("*")).collect()
    b = spark.read.parquet(dst).agg(F.sum("id"), F.count("*")).collect()
    assert a == b


def test_schema_evolution_merge_schema_read(spark, tmp_path):
    """Additive schema evolution: a later ingestion run adds a column;
    mergeSchema reads the union schema with nulls for the old files —
    the contract a long-lived corpus directory depends on."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "doc_id long, text string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", "en")], "doc_id long, text string, lang string"
    ).write.mode("append").parquet(path)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    rows = {r.doc_id: (r.text, r.lang) for r in df.collect()}
    assert set(df.columns) == {"doc_id", "text", "lang"}
    assert rows[1] == ("a", None) and rows[2] == ("b", "en")


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC round-trips byte-identically and its read-back scan gets
    the same predicate pushdown + column pruning as parquet — plans
    stay format-agnostic."""
    from confidential_storm_spark.sources.writers import read_orc, write_orc

    path = str(tmp_path / "orc")
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("bucket"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    write_orc(df, path)
    back = read_orc(spark, path)
    assert back.count() == 1000
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}

    filtered = back.filter(F.col("bucket") == 3).select("id")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "bucket" in plan.split("PushedFilters")[1][:200]
    read = plan.split("ReadSchema")[1][:200]
    assert "payload" not in read  # column pruned

    # hive-style partitioned variant prunes directories
    ppath = str(tmp_path / "orc_part")
    write_orc(df, ppath, partition_cols=("bucket",))
    pr = read_orc(spark, ppath).filter(F.col("bucket") == 2)
    pplan = pr._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in pplan and pr.count() == df.filter(F.col("bucket") == 2).count()


def test_jsonl_round_trip_through_quarantine_reader(spark, tmp_path):
    """write_jsonl output is accepted verbatim by the ingestion
    quarantine reader (zero rejects), arrays/structs included."""
    from confidential_storm_spark.sources.ingest import read_documents_jsonl, split_corrupt
    from confidential_storm_spark.sources.writers import write_jsonl

    path = str(tmp_path / "jsonl")
    docs = spark.createDataFrame(
        [(1, "hello world", "en", "src0", 11), (2, "hola", "es", "src1", 4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    write_jsonl(docs, path, compression=None)
    parsed = read_documents_jsonl(
        spark, path, "doc_id long, text string, lang string, source string, n_chars long"
    )
    clean, rejects, src = split_corrupt(parsed, return_source=True)
    assert rejects.count() == 0
    assert {r["doc_id"] for r in clean.collect()} == {1, 2}
    src.unpersist()


def test_profile_table_semantics(spark):
    """Null counts, exact distincts (non-null), numeric ranges; NULL
    ranges for string columns; approx mode stays one scan and lands
    near truth."""
    from confidential_storm_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (3, None, 2.5), (3, "a", 0.25)],
        "id long, tag string, score double",
    )
    rows = {r["col_name"]: r for r in profile_table(df).collect()}
    assert rows["id"]["n_rows"] == 4 and rows["id"]["n_nulls"] == 0
    assert rows["id"]["n_distinct"] == 3
    assert rows["tag"]["n_nulls"] == 1 and rows["tag"]["n_distinct"] == 2
    assert rows["tag"]["min_num"] is None and rows["tag"]["max_num"] is None
    assert rows["score"]["n_nulls"] == 1
    assert rows["score"]["min_num"] == 0.25 and rows["score"]["max_num"] == 2.5

    approx = {r["col_name"]: r for r in profile_table(df, exact_distinct=False).collect()}
    assert abs(approx["id"]["n_distinct"] - 3) <= 1


def test_profile_table_matches_pandas_reference(spark):
    """Randomized cross-check: profile_table == an independent pandas
    model over mixed-type frames with nulls (several seeds, one
    session — hypothesis-style without per-example Spark spinup)."""
    import numpy as np
    import pandas as pd

    for seed in (0, 1, 7):
        rng = np.random.default_rng(seed)
        n = int(rng.integers(5, 200))
        pdf = pd.DataFrame(
            {
                "i": rng.integers(-5, 5, n).astype("int64"),
                "s": [
                    None if rng.random() < 0.2 else f"s{int(rng.integers(0, 6))}"
                    for _ in range(n)
                ],
                "f": [
                    None if rng.random() < 0.3 else round(float(rng.normal()), 4)
                    for _ in range(n)
                ],
            }
        )
        from confidential_storm_spark.operators.profile import profile_table

        df = spark.createDataFrame(pdf.astype({"f": "float64"}))
        got = {r["col_name"]: r for r in profile_table(df).collect()}
        for c in ("i", "s", "f"):
            assert got[c]["n_rows"] == n
            assert got[c]["n_nulls"] == int(pdf[c].isna().sum())
            assert got[c]["n_distinct"] == int(pdf[c].dropna().nunique())
        assert got["s"]["min_num"] is None
        f_clean = pdf["f"].dropna()
        if len(f_clean):
            assert got["f"]["min_num"] == round(float(f_clean.min()), 6)
            assert got["f"]["max_num"] == round(float(f_clean.max()), 6)


def test_load_table_sees_files_added_to_a_directory_table(spark, tmp_path):
    """A file added inside a partition directory leaves the table
    directory's size and mtime unchanged; load_table must still list it."""
    from confidential_storm_spark.sources.tables import load_table

    path = str(tmp_path / "t.parquet")
    spark.range(10).withColumn("p", F.col("id") % 2).write.partitionBy("p").parquet(path)
    assert load_table(spark, str(tmp_path), "t").count() == 10
    spark.range(10, 15).write.mode("append").parquet(f"{path}/p=0")
    assert spark.read.parquet(path).count() == 15
    assert load_table(spark, str(tmp_path), "t").count() == 15
