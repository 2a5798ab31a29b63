"""End-to-end word-count topology + sink tests (SURVEY §3.1, §2.2)."""

import os

import pytest
from pyspark.sql import functions as F

from confidential_storm_spark.operators.dp_batch import DPParams
from confidential_storm_spark.sources.jokes import read_sealed_documents
from confidential_storm_spark.streaming.sinks import (
    histogram_file_sink,
    timing_sink,
    utility_report_sink,
)


def test_wordcount_topology_end_to_end(spark, tmp_path):
    """Two document micro-batches through split -> bound -> DP (sigma=0,
    mu=2) -> file sink; histogram equals exact bounded word counts."""
    src = str(tmp_path / "docs")
    b0 = [("u1", "the cat and the hat"), ("u2", "the cat runs"), ("u3", "cat hat")]
    b1 = [("u4", "the dog and the cat"), ("u5", "dog!")]
    schema = "user_id string, text string"
    spark.createDataFrame(b0, schema).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out_dir = str(tmp_path / "hist")
    from confidential_storm_spark.plans.wordcount import run_wordcount_two_stage

    sink = histogram_file_sink(out_dir)
    run_wordcount_two_stage(
        stream,
        stage_dir=str(tmp_path / "stage"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        params=DPParams.zero_noise(t=10, mu=2, c=100),
        max_contributions=100,
        num_buckets=1,
        sink=sink,
    )

    lines = open(os.path.join(out_dir, "histogram.txt")).read().strip().splitlines()
    assert lines[0].startswith("# epoch=")
    hist = dict(l.rsplit(":", 1) for l in lines[1:])
    # Release needs >= mu=2 unique users per round, and the round RESETS
    # after a release (A11) — so u4's epoch-1 'the'/'cat' contributions
    # (1 new user < mu) stay buffered as unreleased delta-V:
    #   the: e0 u1+u2 -> release 3; e1 u4 alone -> buffered    => 3
    #   cat: e0 u1+u2+u3 -> release 3; e1 u4 -> buffered       => 3
    #   hat: e0 u1+u3 -> release 2                              => 2
    #   and: e0 u1 (1<mu); e1 +u4 -> release 2                  => 2
    #   dog: e1 u4+u5 -> release 2                              => 2
    #   runs: 1 user ever -> never released
    assert hist == {"the": "3", "cat": "3", "hat": "2", "and": "2", "dog": "2"}
    assert "runs" not in hist


def test_sealed_document_reader(spark, tmp_path):
    """S2: JSON dataset of base64 sealed entries parses to envelopes."""
    import base64, json

    data = [
        {
            "userId": "u1",
            "payload": {
                "header": '{"source":"_DATASET"}',
                "nonce": base64.b64encode(b"n" * 12).decode(),
                "ciphertext": base64.b64encode(b"\x01\x02\x03").decode(),
            },
        }
    ]
    p = tmp_path / "jokes.json"
    p.write_text(json.dumps(data))
    rows = read_sealed_documents(spark, str(p)).collect()
    assert rows[0]["user_id"] == "u1"
    assert bytes(rows[0]["envelope"]["nonce"]) == b"n" * 12
    assert bytes(rows[0]["envelope"]["ciphertext"]) == b"\x01\x02\x03"


def test_utility_and_timing_sinks(spark, tmp_path):
    df = spark.createDataFrame([("a", 9), ("b", 5)], "key string, count long")
    csv = str(tmp_path / "utility.csv")
    utility_report_sink(csv, {"a": 10.0, "c": 3.0})(df, batch_id=7)
    lines = open(csv).read().strip().splitlines()
    assert lines[0].startswith("tick,")
    tick, _, l0, l_inf, l1, l2, dp_keys, gt_keys = lines[1].split(",")
    assert (tick, l0, dp_keys, gt_keys) == ("7", "2", "2", "2")
    assert float(l_inf) == 5.0  # b: |5-0|=5, a: |9-10|=1, c: |0-3|=3
    assert float(l1) == 9.0

    tcsv = str(tmp_path / "timing.csv")
    timing_sink(tcsv, "run1", parallelism=4)(df, batch_id=0)
    rows = open(tcsv).read().strip().splitlines()
    assert rows[1].startswith("run1,4,0,2,")
