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
from ..streaming._drain import run_available_now
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
    the message fabric.  Stage 1 appends bounded word rows (one file
    per micro-batch); stage 2 tails them with ``maxFilesPerTrigger=1``
    so the epoch alignment is preserved.

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
    # one file per micro-batch so stage 2's maxFilesPerTrigger=1 maps
    # one stage-1 batch to exactly one DP epoch (without this, each
    # state partition writes its own file and epochs fragment)
    bounded = bounded.coalesce(1)
    run_available_now(
        bounded.writeStream.outputMode("append")
        .format("parquet")
        .option("path", stage_dir),
        f"{checkpoint_dir}/stage1",
    )

    staged = (
        spark.readStream.schema("user_id string, key string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
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
