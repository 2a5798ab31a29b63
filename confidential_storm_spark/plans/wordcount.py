"""The word-count confidential topology, Spark-first (SURVEY §3.1).

Reference DAG: ``random-joke-spout ->(shuffle) sentence-split
->(hash user) contribution-bounding ->(hash word) data-perturbation
->(shuffle) histogram-aggregation`` (WordCountTopology.java:48-97).

Spark restatement: stream of documents -> explode to words (P1) ->
stateful per-user bound (A2) -> stateful DP mechanism keyed by word
(A1-A13, epoch = micro-batch) -> foreachBatch histogram sink (K1).
The explicit SHA-256 routing keys and ZK epoch barrier dissolve into
Catalyst hash partitioning and the micro-batch barrier.

Word-count DP parameters mirror the demo's DPConfig (eps=8, delta=1e-6,
C=100, L_m=1, mu=15, T=12; examples/confidential-word-count/common/
.../config/DPConfig.java:10-25).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import words
from ..operators.dp_batch import DPParams
from ..streaming._drain import read_handoff, run_available_now, write_handoff
from ..streaming.stateful import bound_contributions_stream, dp_histogram_stream

__all__ = ["WORDCOUNT_PARAMS", "run_wordcount_two_stage"]

WORDCOUNT_PARAMS = dict(epsilon=8.0, delta=1e-6, c=100, t=12, mu=15)


def run_wordcount_two_stage(
    documents: DataFrame,
    stage_dir: str,
    checkpoint_dir: str,
    params: DPParams | None = None,
    text_col: str = "text",
    user_col: str = "user_id",
    max_contributions: int = 100,
    num_buckets: int = 4,
    sink=None,
):
    """Run the topology as TWO chained streaming queries staged through
    parquet: Spark does not allow two ``applyInPandasWithState``
    operators (per-user bounding, then per-key DP) inside one query,
    exactly as the reference runs them in separate bolts connected by
    the message fabric.  Stage 1 hands its bounded word rows to stage 2
    through ``_drain.write_handoff`` / ``read_handoff``, so stage-1
    batch N is DP epoch N and a stage-1 batch re-run after a crash is
    counted once.  Not the parquet file sink: behind the bounding state
    it could only follow ``coalesce(1)``, which runs that state in one
    task (see ``streaming/keyed.py``).

    Returns the list of (batch_id, rows) the sink observed (when
    ``sink`` is None an in-memory collector is used).
    """
    if params is None:
        params = DPParams.from_budget(
            WORDCOUNT_PARAMS["epsilon"],
            WORDCOUNT_PARAMS["delta"],
            c=WORDCOUNT_PARAMS["c"],
            t=WORDCOUNT_PARAMS["t"],
            mu=WORDCOUNT_PARAMS["mu"],
        )
    spark = documents.sparkSession
    word_rows = documents.select(
        F.col(user_col).cast("string").alias("user_id"),
        F.explode(words(F.col(text_col))).alias("key"),
    ).withColumn("value", F.lit(1.0))
    bounded = bound_contributions_stream(word_rows, max_contributions, user_col="user_id")
    run_available_now(
        bounded.writeStream.outputMode("append").foreachBatch(
            lambda df, batch_id: write_handoff(df, stage_dir, batch_id)
        ),
        f"{checkpoint_dir}/stage1",
    )

    staged = read_handoff(spark, stage_dir, "user_id string, key string, value double")
    collected: list = []
    if sink is None:
        sink = lambda df, bid: collected.append((bid, df.collect()))
    run_available_now(
        dp_histogram_stream(staged, params, num_buckets=num_buckets)
        .writeStream.outputMode("update")
        .foreachBatch(sink),
        f"{checkpoint_dir}/stage2",
    )
    return collected
