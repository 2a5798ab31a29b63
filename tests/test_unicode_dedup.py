"""Unicode-canonical dedup key: NFC/case/whitespace variants collapse
to one digest, cross-checked against DuckDB's utf8proc NFC.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from confidential_storm_spark.functions.text import (
    clean_text,
    clean_text_sql,
    nfc_lower,
    nfc_lower_sql,
)
from confidential_storm_spark.operators.dedup import exact_dedup

# the same logical document five ways: precomposed é, combining
# e+U+0301, uppercase, extra interior spaces, trailing newline
_VARIANTS = [
    (1, "café résumé text"),
    (2, "café résumé text"),
    (3, "CAFÉ RÉSUMÉ TEXT"),
    (4, "café  résumé   text"),
    (5, "café résumé text\n"),
    (6, "a genuinely different document"),
]


def _keyed(spark):
    df = spark.createDataFrame(_VARIANTS, "doc_id long, text string")
    return df.withColumn("_norm", nfc_lower(clean_text(F.col("text"))))


def test_variants_collapse_to_one_digest(spark):
    out = exact_dedup(_keyed(spark), text_col="_norm").collect()
    by_survivor = {r["survivor_id"]: r["n_copies"] for r in out}
    assert by_survivor == {1: 5, 6: 1}


def test_nfc_lower_matches_duckdb(spark, tmp_path):
    df = spark.createDataFrame(_VARIANTS, "doc_id long, text string")
    pq = str(tmp_path / "docs.parquet")
    df.coalesce(1).write.parquet(pq)
    got = {
        r["doc_id"]: r["k"]
        for r in df.select(
            "doc_id", nfc_lower(clean_text(F.col("text"))).alias("k")
        ).collect()
    }
    con = duckdb.connect()
    k = nfc_lower_sql(clean_text_sql())
    oracle = dict(
        con.sql(
            f"SELECT doc_id, {k} AS k FROM '{pq}/*.parquet' ORDER BY doc_id"
        ).fetchall()
    )
    assert got == oracle


def test_nfc_lower_matches_python_reference(spark):
    import unicodedata

    df = spark.createDataFrame(_VARIANTS, "doc_id long, text string")
    got = {r["doc_id"]: r["k"] for r in df.select("doc_id", nfc_lower(F.col("text")).alias("k")).collect()}
    for i, t in _VARIANTS:
        assert got[i] == unicodedata.normalize("NFC", t).lower()


def test_null_text_passes_through(spark):
    df = spark.createDataFrame([(1, None)], "doc_id long, text string")
    assert df.select(nfc_lower(F.col("text")).alias("k")).collect()[0]["k"] is None
