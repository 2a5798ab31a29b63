"""text cleaning + histogram-sketch quantiles (round-5 additions)."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from confidential_storm_spark.functions.text import clean_text, clean_text_sql
from confidential_storm_spark.operators.sketches import (
    histogram_quantiles,
    histogram_quantiles_sql,
)

DIRTY = [
    "plain text stays",
    "  outer   spaces\tand\ttabs  ",
    "ctrl\x00chars\x07are\x1fstripped\x7f",
    "crlf\r\nbecomes\rnewline",
    "blank\n\n\n\n\nruns\n\n\ncapped",
    "spaces \n around \n newlines",
    "\n\nleading and trailing\n\n",
    "mixed \x0b\x0c forms",
]


def test_clean_text_matches_duckdb_twin_on_dirty_inputs(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(DIRTY)], "i long, text string")
    got = {r.i: r.c for r in df.select("i", clean_text(F.col("text")).alias("c")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(DIRTY)))
    want = dict(con.execute(f"SELECT i, {clean_text_sql()} FROM t").fetchall())
    assert got == want


def test_clean_text_semantics_and_idempotence(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(DIRTY)], "i long, text string")
    out = {r.i: r.c for r in df.select("i", clean_text(F.col("text")).alias("c")).collect()}
    assert out[0] == "plain text stays"
    assert out[1] == "outer spaces and tabs"
    assert out[2] == "ctrlcharsarestripped"
    assert out[3] == "crlf\nbecomes\nnewline"
    assert out[4] == "blank\n\nruns\n\ncapped"
    assert out[5] == "spaces\naround\nnewlines"
    assert out[6] == "leading and trailing"
    # idempotent: cleaning cleaned text changes nothing
    twice = {
        r.i: r.c
        for r in df.select(
            "i", clean_text(clean_text(F.col("text"))).alias("c")
        ).collect()
    }
    assert twice == out


def test_histogram_quantiles_accuracy_and_invariance(spark):
    rng = np.random.default_rng(17)
    vals = rng.integers(0, 640, 5000).tolist()
    df = spark.createDataFrame([(int(v),) for v in vals], "n long")
    qs = (0.25, 0.5, 0.9, 0.99)
    got = {r.q: r.est for r in histogram_quantiles(df, "n", qs=qs).collect()}
    for q in qs:
        exact = float(np.quantile(vals, q, method="inverted_cdf"))
        assert abs(got[q] - exact) <= 10.0, (q, got[q], exact)  # within one bucket width
    # partition invariance (integer cumsums, no window)
    got7 = {r.q: r.est for r in histogram_quantiles(df.repartition(7), "n", qs=qs).collect()}
    assert got == got7


def test_histogram_quantiles_matches_duckdb_twin(spark, tmp_path):
    rng = np.random.default_rng(23)
    vals = [int(v) for v in rng.integers(-50, 900, 2000)]  # incl. clamp ranges
    df = spark.createDataFrame([(v,) for v in vals], "n long")
    got = [(r.q, r.est) for r in histogram_quantiles(df, "n", qs=(0.1, 0.5, 0.95)).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (n BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    want = con.execute(histogram_quantiles_sql("t", "n", qs=(0.1, 0.5, 0.95))).fetchall()
    assert got == [(q, e) for q, e in want]
