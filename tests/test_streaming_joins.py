"""Stream-stream interval join + stream-static enrichment tests.

Differential style: the streaming result (file source, one file per
micro-batch, availableNow) must equal the same ``interval_join_streams``
call on the batch DataFrames — the batch call exercises the identical
join condition with watermarks compiled out.
"""

import tempfile
from datetime import datetime

import pytest

from confidential_storm_spark.streaming import enrich_stream, interval_join_streams
from confidential_storm_spark.streaming._drain import run_available_now

SCHEMA = "user_id string, ts timestamp, value double"


def _ts(minute, hour=12):
    return datetime(2024, 1, 1, hour, minute)


def _write(spark, base, name, batches):
    src = str(base / name)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
    return src


def _read_stream(spark, src):
    return (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )


def _run_append(df):
    out = []
    with tempfile.TemporaryDirectory() as ckpt:
        run_available_now(
            df.writeStream.outputMode("append").foreachBatch(
                lambda bdf, bid: out.extend(bdf.collect())
            ),
            ckpt,
        )
    return out


VIEWS = [
    [("u1", _ts(0), 1.0), ("u2", _ts(5), 2.0)],
    [("u1", _ts(30), 3.0), ("u3", _ts(31), 4.0)],
]
PURCHASES = [
    [("u1", _ts(10), 10.0)],  # matches u1@:00 (10 min later)
    [("u1", _ts(35), 20.0), ("u2", _ts(50), 30.0)],
    # u2@:50 is 45 min after u2's view -> outside the 30 min horizon
]


def test_interval_join_stream_matches_batch(spark, tmp_path):
    vsrc = _write(spark, tmp_path, "views", VIEWS)
    psrc = _write(spark, tmp_path, "purchases", PURCHASES)
    streamed = _run_append(
        interval_join_streams(
            _read_stream(spark, vsrc),
            _read_stream(spark, psrc),
            "user_id",
            upper="30 minutes",
            watermark="1 hour",
        )
    )
    batch = interval_join_streams(
        spark.read.parquet(vsrc),
        spark.read.parquet(psrc),
        "user_id",
        upper="30 minutes",
        watermark="1 hour",
    ).collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))
    # u1's :35 purchase matches BOTH u1 views (:00 + 30min >= :35? no —
    # :00 horizon ends :30; only the :30 view matches) — pin the pairs
    pairs = sorted((r["user_id"], r["value"], r["r_value"]) for r in streamed)
    assert pairs == [("u1", 1.0, 10.0), ("u1", 3.0, 20.0)]


def test_interval_join_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    # flush files far in the future advance the watermark past every
    # earlier row's match horizon, forcing the outer-null emissions
    flush_v = [("zz", _ts(0, hour=20), 0.0)]
    flush_p = [("zz", _ts(1, hour=20), 0.0)]
    vsrc = _write(spark, tmp_path, "views", VIEWS + [flush_v])
    psrc = _write(spark, tmp_path, "purchases", PURCHASES + [flush_p])
    rows = _run_append(
        interval_join_streams(
            _read_stream(spark, vsrc),
            _read_stream(spark, psrc),
            "user_id",
            upper="30 minutes",
            watermark="10 minutes",
            how="leftOuter",
        )
    )
    matched = {(r["user_id"], r["value"]) for r in rows if r["r_user_id"] is not None}
    unmatched = {(r["user_id"], r["value"]) for r in rows if r["r_user_id"] is None}
    assert ("u1", 1.0) in matched and ("u1", 3.0) in matched
    # u2's and u3's views never matched inside the horizon
    assert ("u2", 2.0) in unmatched and ("u3", 4.0) in unmatched


def test_enrich_stream_joins_dim_per_batch(spark, tmp_path):
    src = _write(spark, tmp_path, "events", VIEWS)
    dim = spark.createDataFrame(
        [("u1", "gold"), ("u2", "silver")], "user_id string, tier string"
    )
    rows = _run_append(enrich_stream(_read_stream(spark, src), dim, "user_id"))
    tiers = {(r["user_id"], r["tier"]) for r in rows}
    assert tiers == {("u1", "gold"), ("u2", "silver"), ("u3", None)}
    assert len(rows) == 4  # left join keeps every stream row
